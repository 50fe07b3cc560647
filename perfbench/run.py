"""Crawl benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload wide_round --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The workload's inputs
are generated from ``--seed``; the run sets up (session, inputs, starting
checkpoint, untimed warm-up crawls), then crawls one at a time until
the timed crawls add up to ``--seconds``, checking every crawl against the
pure-Python simulator. The last line of standard output is the result:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, medians over the
timed crawls. With ``--trace 1`` the run alternates untraced and traced
crawls and reports per-layer metrics of the traced ones (medians) plus
``trace.overhead``. Everything else (per-crawl figures, box ceilings,
spans) goes to standard error and to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# timed crawls of a traced run, whatever --seconds says: the traced crawl
# sits between two untraced ones, so that crawls still warming up do not
# bias trace.overhead (an untraced run takes its workload's min_crawls)
MIN_TRACED_CRAWLS = 3
MAX_RUN_S = 150.0    # stop starting crawls after this much wall time


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Run:
    def __init__(self, args):
        self.args = args
        self.out = os.path.join(HERE, "out")
        self.scratch = os.path.join(self.out, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.crawls: list[dict] = []   # one record per completed crawl
        self.layers: list[dict] = []   # per-layer metrics of traced crawls

    def main(self) -> dict:
        from perfbench import ceilings, oracle
        from perfbench.procfs import ProcessTree
        from perfbench.session import cores, make_session, stop_session
        from perfbench.workloads import prepare

        a = self.args
        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        self.k = cores()
        t = time.perf_counter()
        box = ceilings.measure(self.k)
        log(f"box {box} in {time.perf_counter() - t:.2f}s")

        ev_dir = os.path.join(self.scratch, "eventlog") if a.trace else None
        t0 = time.perf_counter()
        spark = make_session(self.scratch, ev_dir)
        t_session = time.perf_counter() - t0
        self.tree = ProcessTree()
        tracer = None
        try:
            t = time.perf_counter()
            p = prepare(spark, a.shape, a.seed, os.path.join(self.scratch, "work"))
            t_inputs = time.perf_counter() - t
            t = time.perf_counter()
            # a resuming workload's starting checkpoint was built by an
            # untimed crawl of the same universe; that is its first warm-up
            for _ in range(a.shape.warmups):
                wd = p.new_workdir()
                p.crawl(wd)
                shutil.rmtree(wd)
            t_warm = time.perf_counter() - t
            setup_s = time.perf_counter() - t0
            log(f"setup {setup_s:.2f}s: session {t_session:.2f} inputs "
                f"{t_inputs:.2f} warm-up {t_warm:.2f}")

            t = time.perf_counter()
            ref = p.reference()
            log(f"reference {time.perf_counter() - t:.2f}s, {ref.rounds} rounds")

            if a.trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark, self.tree)
            timed = 0.0
            least = MIN_TRACED_CRAWLS if a.trace else a.shape.min_crawls
            while (timed < a.seconds or len(self.crawls) < least) \
                    and time.perf_counter() - t0 < MAX_RUN_S:
                traced = bool(a.trace) and len(self.crawls) % 2 == 1
                rec = self.crawl_once(p, ref, oracle, tracer if traced else None)
                if rec is None:
                    continue
                timed += rec["crawl_s"]
        finally:
            stop_session(spark)

        if not self.crawls:
            raise RuntimeError("no timed crawl completed")
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
        }
        if a.trace:
            from perfbench.trace import EventLog, layer_metrics

            ev = EventLog(ev_dir)
            for rec in self.crawls:
                if rec.get("span") is not None:
                    self.layers.append(
                        layer_metrics(rec.pop("span"), ev, rec.pop("facts"), self.k))
            tracer.dump(os.path.join(self.out, f"spans-{a.workload}-{a.seed}.json"), ev)
            result["metrics"] = self.layer_result()
        else:
            result["metrics"] = self.e2e_result(setup_s)
        record = {"args": vars(a) | {"shape": dataclasses.asdict(a.shape),
                                     "spec": None},
                  "box": box,
                  "setup": {"session_s": t_session, "inputs_s": t_inputs,
                            "warmup_s": t_warm},
                  "crawls": [{k: v for k, v in c.items() if k not in ("span", "facts")}
                             for c in self.crawls],
                  "layers": self.layers}
        with open(os.path.join(self.out, f"run-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        return result

    def crawl_once(self, p, ref, oracle, tracer):
        """One timed crawl, then its (untimed) oracle check."""
        wd = p.new_workdir()
        _, files_before = dir_usage(wd)
        self.attempted += 1
        span = None
        try:
            if tracer is not None:
                tracer.install()
            s0 = self.tree.sample()
            t = time.perf_counter()
            try:
                res = p.crawl(wd)
            finally:
                crawl_s = time.perf_counter() - t
                s1 = self.tree.sample()
                if tracer is not None:
                    tracer.uninstall()
                    span = next(s for s in reversed(tracer.spans) if s.parent is None)
            out = oracle.collect(res)
        except Exception:
            self.failed += 1
            log("crawl raised:\n" + traceback.format_exc())
            shutil.rmtree(wd, ignore_errors=True)
            return None
        bad = oracle.mismatches(out, ref)
        if bad:
            self.failed += 1
            log("crawl differs from the reference:", *bad)
        r0 = p.first_round
        pages = sum(1 for (u, r, st) in out.fetched
                    if r >= r0 and st == "ok" and out.kinds[u] == "page")
        urls = sum(1 for row in out.schedule if row[4] >= p.first_enqueue_round)
        size, files = dir_usage(wd)
        cpu = s1.minus(s0)
        rec = {
            "crawl_s": crawl_s,
            "traced": tracer is not None,
            "correct": not bad,
            "rounds": res.rounds,
            "pages": pages,
            "urls": urls,
            "cpu_s": cpu.total_cpu,
            "ckpt_bytes": size,
            "pages_per_s": pages / crawl_s,
            "urls_per_s": urls / crawl_s,
            "cpu_s_per_kpage": cpu.total_cpu / (pages / 1000),
            "ckpt_bytes_per_page": size / pages,
        }
        if span is not None:
            from perfbench.trace import CrawlFacts

            links = res.metrics.filter(f"round >= {r0}").selectExpr(
                "sum(links_discovered + assets_found)").first()[0]
            rec["span"] = span
            rec["facts"] = CrawlFacts(
                pages=pages,
                misses=sum(1 for (_, r, st) in out.fetched
                           if r >= r0 and st == "skipped_download"),
                blocked=sum(1 for (_, r, st) in out.fetched
                            if r >= r0 and st == "skipped_robots"),
                links=int(links or 0),
                seen_rows=len(out.seen),
                seen_filter=list(res.seen_filter),
                files_written=files - files_before,
            )
        log(f"crawl {len(self.crawls) + 1}{' traced' if span else ''}: "
            f"{crawl_s:.2f}s {res.rounds} rounds {pages} pages {urls} urls "
            f"{'ok' if not bad else 'WRONG'}")
        shutil.rmtree(wd, ignore_errors=True)
        self.crawls.append(rec)
        return rec

    def e2e_result(self, setup_s: float) -> dict:
        out = {}
        for m in self.args.spec["end_to_end"]:
            name = m["name"]
            v = setup_s if name == "setup_s" else statistics.median(
                c[name] for c in self.crawls)
            out[name] = {"value": v, "unit": m["unit"]}
        return out

    def layer_result(self) -> dict:
        plain = [c["crawl_s"] for c in self.crawls if not c["traced"]]
        traced = [c["crawl_s"] for c in self.crawls if c["traced"]]
        overhead = statistics.median(traced) / statistics.median(plain) - 1
        out = {}
        for m in self.args.spec["per_layer"]:
            name = m["name"]
            v = overhead if name == "trace.overhead" else statistics.median(
                float(layer[name]) for layer in self.layers)
            out[name] = {"value": v, "unit": m["unit"]}
        return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny inputs, for the self-test only")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Only the result may reach standard output: everything else the
    # process and its children (JVM, Python workers) print goes to stderr.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import go_crawler_spark  # noqa: F401  (the program under test)
        from perfbench.workloads import SHAPES, toy_shape
    except ImportError as e:
        log(f"cannot import the crawl engine from {ROOT}: {e}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        args.spec = json.load(f)
    if args.workload not in SHAPES:
        log(f"unknown workload {args.workload!r}; known: {sorted(SHAPES)}")
        return 2
    args.shape = toy_shape(args.workload) if args.toy else SHAPES[args.workload]
    run = Run(args)
    try:
        result = run.main()
    except Exception:
        log("benchmark failed:\n" + traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(run.scratch, ignore_errors=True)
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            log(f"non-finite metric in {result}")
            return 1
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
