"""Checks one crawl against the pure-Python reference simulator.

The reference is ``go_crawler_spark.simulator.simulate`` run over the same
universe (``datagen.generate_corpus_dict`` with the same seed and
parameters, the same robots rules and politeness slots). It is computed
once per benchmark run, outside every timed section, and never from the
engine's own output.

A crawl matches when it agrees on

- the schedule: ``(url, kind, depth, seq, enqueue_round)`` of every
  admitted URL;
- the seen set;
- every URL's fetch status: ``(url, round, status)``.

A crawl stopped after ``rounds`` rounds is compared with the simulated
crawl cut at the same round.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Reference:
    schedule: set   # {(url, kind, depth, seq, enqueue_round)}
    fetched: set    # {(url, round, status)}
    seen: set       # {url}
    rounds: int


def reference(corpus, seeds, cfg, robots=None, rounds=None) -> Reference:
    """Simulate the crawl; ``rounds`` cuts it after that many rounds."""
    from go_crawler_spark.simulator import simulate

    sim = simulate(corpus, seeds, cfg, robots=robots)
    n = len(sim.metrics)
    if rounds is not None and rounds < n:
        if len(sim.seen) != len(sim.schedule):
            # refused URLs are seen but carry no round; a cut crawl could
            # not place them, so such a workload is a benchmark bug
            raise ValueError("a cut reference crawl must admit every URL")
        n = rounds
    items = [it for it in sim.schedule if it.enqueue_round <= n]
    return Reference(
        schedule={(it.url, it.kind, it.depth, it.seq, it.enqueue_round)
                  for it in items},
        fetched={(it.url, it.fetch_round, it.status)
                 for it in items if 0 <= it.fetch_round < n},
        seen=(sim.seen if n == len(sim.metrics)
              else {it.url for it in items}),
        rounds=n,
    )


@dataclass
class Outcome:
    """What one crawl produced, as the benchmark counts it."""
    schedule: set
    fetched: set
    seen: set
    rounds: int
    kinds: dict  # url -> kind, for the fetched rows


def collect(res) -> Outcome:
    """Read a ``CrawlResult``'s tables into Python sets (untimed)."""
    sched = res.schedule.select(
        "url", "kind", "depth", "seq", "enqueue_round").toPandas()
    fetched = res.fetched.select("url", "kind", "round", "status").toPandas()
    seen = res.seen.toPandas()
    return Outcome(
        schedule=set(zip(sched.url, sched.kind, sched.depth.astype(int),
                         sched.seq.astype(int),
                         sched.enqueue_round.astype(int))),
        fetched=set(zip(fetched.url, fetched["round"].astype(int),
                        fetched.status)),
        seen=set(seen.url),
        rounds=res.rounds,
        kinds=dict(zip(fetched.url, fetched.kind)),
    )


def mismatches(out: Outcome, ref: Reference) -> list[str]:
    """Human-readable differences; empty when the crawl is correct."""
    bad = []
    if out.rounds != ref.rounds:
        bad.append(f"rounds {out.rounds} != {ref.rounds}")
    for name in ("schedule", "fetched", "seen"):
        got, want = getattr(out, name), getattr(ref, name)
        if got != want:
            extra = sorted(got - want, key=str)[:3]
            missing = sorted(want - got, key=str)[:3]
            bad.append(f"{name}: {len(got - want)} extra {extra}, "
                       f"{len(want - got)} missing {missing}")
    return bad
