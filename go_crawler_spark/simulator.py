"""Pure-Python reference simulator of the Go crawler's queue semantics.

This is the executable oracle (SURVEY §5b): it implements, sequentially and
obviously, exactly the semantics of the reference's queue + pipeline —

- Q1 URL-seen dedup, first-writer-wins, seen-insert BEFORE budget check
  (internal/queue.go:88-114: a budget-refused page stays seen forever)
- Q2 page budget counting pages only, seed included (queue.go:101-106)
- Q3 FIFO order — canonical key (depth, parent_seq, link_pos), equal to the
  reference's push order under sequential parsing (SURVEY §7)
- Q4 termination when the frontier drains
- S2/S3 fetch as corpus lookup + size gate (cmd/crawler/main.go:311-343),
  row-preserving skip on miss (main.go:158-163)
- parse via the engine's own resolve_links_and_assets (assets skip parse,
  main.go:207)
- [EXTENSION] depth limit (children beyond max_depth are never pushed),
  per-host politeness slots per round, robots disallow prefixes — the
  north-rule semantics the engine must match under the same config.
- [EXTENSION] redirects: min(dst)-per-src hop table under Go's 10-request
  budget, per-hop robots (the chain aborts before a forbidden request),
  final-target content fetched under the alias's URL identity, politeness
  keyed on the target host while deferred rows keep the alias host —
  mirror of run_crawl(redirects=...).

The Spark engine must reproduce this simulator's schedule (url, kind,
depth, seq, fetch round), statuses, and final seen set bit-for-bit.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.functions.htmlx import resolve_links_and_assets
from go_crawler_spark.functions.urls import registrable_host
from urllib.parse import urlsplit


@dataclass
class SimItem:
    url: str
    kind: str       # 'page' | 'asset'
    depth: int
    seq: int
    host: str
    fetch_round: int = -1
    status: str = ""
    size: int = 0
    enqueue_round: int = 0  # 0 = seed push; children pushed in round r → r+1


@dataclass
class SimResult:
    schedule: List[SimItem] = field(default_factory=list)  # enqueued items, seq order
    seen: set = field(default_factory=set)
    metrics: List[dict] = field(default_factory=list)      # one dict per round


def url_template(url: str) -> str:
    """Pure-Python twin of
    :func:`go_crawler_spark.functions.urls.url_template_expr` (host +
    lower-cased path with digit runs collapsed to ``<d>``, query/fragment
    stripped) — step-for-step the same string ops, pinned equal by
    tests/test_traps.py."""
    no_frag = url.split("#", 1)[0]
    no_query = no_frag.split("?", 1)[0]
    rest = re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://", "", no_query)
    authority = re.match(r"^[^/?]*", rest).group(0)
    path = rest[len(authority):] or "/"
    # surt_host_expr: userinfo + port stripped, lowered, one trailing dot
    host = authority.split("@")[-1].split(":", 1)[0].lower()
    host = re.sub(r"\.$", "", host)
    return host + re.sub(r"[0-9]+", "<d>", path.lower())


def _rfc_match(path: str, pattern: str) -> bool:
    """RFC 9309 pattern match, implemented independently of the engine's
    regex translation (segment scanning): ``*`` = any substring, trailing
    ``$`` = end anchor, otherwise prefix semantics."""
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    segs = core.split("*")
    if not path.startswith(segs[0]):
        return False
    pos = len(segs[0])
    if len(segs) == 1:
        return path == core if anchored else True
    for seg in segs[1:-1]:
        if seg:
            i = path.find(seg, pos)
            if i < 0:
                return False
            pos = i + len(seg)
    last = segs[-1]
    if anchored:
        if not last:
            return True
        return path.endswith(last) and len(path) - len(last) >= pos
    return (path.find(last, pos) >= 0) if last else True


def simulate(
    corpus: Dict[str, bytes],
    seeds: List[str],
    cfg: CrawlConfig,
    robots: "Optional[List[tuple]]" = None,
    # robots entries: (host, disallow_prefix) 2-tuples for the simple
    # prefix model, or (host, allow, pattern) 3-tuples for RFC 9309
    # longest-match (allow wins pattern-length ties; no match = allowed)
    host_slot_overrides: "Optional[Dict[str, int]]" = None,
    # per-host politeness slot limits (e.g. from robots Crawl-delay);
    # hosts absent here use cfg.host_slots_per_round (unlimited if <= 0)
    trap_templates: "Optional[List[str]]" = None,
    # externally supplied spider-trap templates (url_template form);
    # matching frontier URLs are blocked with status 'skipped_trap'
    trap_refresh_rounds: int = 0,
    trap_min_urls: int = 20,
    # [EXTENSION] in-loop trap defense: every `trap_refresh_rounds` rounds
    # re-census the fetched log (template -> url count, distinct md5
    # fingerprints) and add templates that are prolific AND content-poor
    # (operators/traps.py::url_trap_census semantics) to the gate; 0 = off
    redirects: "Optional[List[tuple]]" = None,
    # [EXTENSION] (src_url, dst_url) redirect hop rows, the engine's
    # run_crawl(redirects=...): min(dst) per src, Go 10-request budget
    # (stopped chains -> skipped_redirect, staying seen), per-hop robots
    # (a chain hopping through a disallowed URL -> skipped_robots), fetch
    # of the FINAL target's content under the alias's own URL identity,
    # per-request robots re-check and politeness keyed on the TARGET host
    # while deferred rows keep the alias host
) -> SimResult:
    res = SimResult()
    rules: Dict[str, List[str]] = {}
    rfc_rules: Dict[str, List[Tuple[bool, str]]] = {}
    for entry in robots or []:
        if len(entry) == 2:
            h, p = entry
            rules.setdefault(h, []).append(p)
        else:
            h, allow, pat = entry
            rfc_rules.setdefault(h, []).append((bool(allow), pat))

    def robots_blocked(url: str) -> bool:
        """One request's robots verdict (both rule shapes), shared by the
        frontier gate, the per-hop check, and the target re-check."""
        h = registrable_host(url)
        path = urlsplit(url).path
        blocked = any(path.startswith(p) for p in rules.get(h, []))
        if not blocked and h in rfc_rules:
            hits = [
                (len(pat), allow)
                for allow, pat in rfc_rules[h]
                # "/" default matches robots_verdict's null-path coalesce
                if _rfc_match(path or "/", pat)
            ]
            blocked = bool(hits) and not max(hits)[1]
        return blocked

    # loop-invariant redirect-source mapping, the twin of the engine's
    # redirect_map (operators/redirects.py::resolve_redirect_sources with
    # blocked_hop_targets baked in when robots rules exist): follow min(dst)
    # hops under the 10-request budget; abort BEFORE a request robots
    # forbids (requests 2..n — request 1 stays the frontier gate's duty)
    nxt: Dict[str, str] = {}
    for s, d in redirects or []:
        nxt[s] = min(nxt[s], d) if s in nxt else d
    redirect_map: Dict[str, Tuple[Optional[str], str]] = {}
    robots_enabled = bool(rules or rfc_rules)
    for s in nxt:
        cur, hops, rstat = s, 0, "ok"
        while cur in nxt and hops < 10:
            if robots_enabled and robots_blocked(nxt[cur]):
                rstat = "blocked_hop"
                break
            cur = nxt[cur]
            hops += 1
        if rstat == "ok" and hops >= 10:
            rstat = "stopped"
        redirect_map[s] = (cur if rstat == "ok" else None, rstat)

    seq_counter = 0
    pages_enqueued = 0
    frontier: List[SimItem] = []

    def push(url: str, kind: str, depth: int, enqueue_round: int = 0) -> None:
        """ref: queue.go:88-114 — dedup, seen insert, then budget."""
        nonlocal seq_counter, pages_enqueued
        if url in res.seen:
            return
        res.seen.add(url)
        if kind == "page":
            if pages_enqueued >= cfg.max_count:
                return  # refused but permanently seen (queue.go:92-106)
            pages_enqueued += 1
        item = SimItem(
            url, kind, depth, seq_counter, registrable_host(url),
            enqueue_round=enqueue_round,
        )
        seq_counter += 1
        frontier.append(item)
        res.schedule.append(item)

    for s in seeds:
        push(s, "page", 0)

    external_traps = frozenset(trap_templates or [])
    trap_set: set = set(external_traps)
    fetched_fps: List[Tuple[str, str]] = []  # (url, md5 of fetched bytes)

    rnd = 0
    while frontier:
        frontier.sort(key=lambda it: it.seq)

        # [EXTENSION] in-loop trap refresh: census the fetched-so-far log
        # (rounds < rnd, matching the engine's fetched_* tables) and
        # re-derive the gate = external templates ∪ flagged templates
        if trap_refresh_rounds > 0 and rnd > 0 and rnd % trap_refresh_rounds == 0:
            tpl_n: Dict[str, int] = {}
            tpl_fp: Dict[str, set] = {}
            for u, fp in fetched_fps:
                t = url_template(u)
                tpl_n[t] = tpl_n.get(t, 0) + 1
                tpl_fp.setdefault(t, set()).add(fp)
            trap_set = set(external_traps) | {
                t
                for t, c in tpl_n.items()
                if c >= trap_min_urls and len(tpl_fp[t]) * 4 <= c
            }

        # trap gate — BEFORE robots, matching the engine's gate order;
        # trapped items leave the frontier but stay seen
        if trap_set:
            remaining: List[SimItem] = []
            for it in frontier:
                if url_template(it.url) in trap_set:
                    it.status, it.fetch_round = "skipped_trap", rnd
                else:
                    remaining.append(it)
            frontier = remaining

        # robots [EXTENSION]: blocked items leave the frontier without a
        # slot — request 1 of a (possibly redirecting) chain, on the ALIAS
        allowed: List[SimItem] = []
        for it in frontier:
            if robots_blocked(it.url):
                it.status, it.fetch_round = "skipped_robots", rnd
            else:
                allowed.append(it)

        # redirects [EXTENSION]: apply the loop-invariant mapping, then
        # re-check robots on the RESOLVED target (per-request contract);
        # the fetch target is tracked per-seq, the item's identity (url,
        # host) stays the alias so deferred rows re-enter the next round's
        # pre-redirect gates intact — exactly the engine's _fetch_url /
        # _fetch_host politeness-only columns
        fetch_url: Dict[int, str] = {}
        if redirect_map:
            remaining2: List[SimItem] = []
            for it in allowed:
                fin, rstat = redirect_map.get(it.url, (it.url, "ok"))
                if rstat == "stopped":
                    it.status, it.fetch_round = "skipped_redirect", rnd
                elif rstat == "blocked_hop":
                    it.status, it.fetch_round = "skipped_robots", rnd
                elif fin != it.url and robots_blocked(fin):
                    it.status, it.fetch_round = "skipped_robots", rnd
                else:
                    fetch_url[it.seq] = fin
                    remaining2.append(it)
            allowed = remaining2

        def _target(it: SimItem) -> str:
            return fetch_url.get(it.seq, it.url)

        # politeness [EXTENSION]: first `slots` per host by seq — keyed on
        # the host the request actually lands on (the resolved target)
        if cfg.host_slots_per_round > 0 or host_slot_overrides:
            default_slots = (
                cfg.host_slots_per_round
                if cfg.host_slots_per_round > 0
                else 2**31 - 1
            )
            overrides = host_slot_overrides or {}
            taken: Dict[str, int] = {}
            fetch_now, deferred = [], []
            for it in allowed:
                slot_host = (
                    registrable_host(_target(it))
                    if it.seq in fetch_url else it.host
                )
                limit = overrides.get(slot_host, default_slots)
                if taken.get(slot_host, 0) < limit:
                    taken[slot_host] = taken.get(slot_host, 0) + 1
                    fetch_now.append(it)
                else:
                    deferred.append(it)
        else:
            fetch_now, deferred = allowed, []

        m = dict(round=rnd, pages_crawled=0, pages_failed=0,
                 links_discovered=0, assets_found=0, bytes_downloaded=0)

        children_batch: List[Tuple[int, int, str, str, int]] = []
        for it in fetch_now:
            it.fetch_round = rnd
            # redirects resolve to the FINAL target's content; identity
            # (url/seen/children base) stays the alias — reference parity:
            # the Go client returns only the body (client.go:48-71)
            html = corpus.get(_target(it))
            if html is None or len(html) > cfg.max_file_size:
                it.status = "skipped_download"
                html = None
                m["pages_failed"] += 1 if it.kind == "page" else 0
            else:
                it.status = "ok"
                it.size = len(html)
                m["bytes_downloaded"] += len(html)
                if it.kind == "page":
                    m["pages_crawled"] += 1
                # fingerprint of the PRE-rewrite bytes, same as the
                # engine's md5(html) computed before the T1 attr rewrite
                fetched_fps.append((it.url, hashlib.md5(html).hexdigest()))
            # parse: pages only (main.go:207); skipped page ⇒ zero children
            if it.kind == "page" and html is not None:
                for kind, url, pos in resolve_links_and_assets(it.url, html):
                    if kind == "page":
                        m["links_discovered"] += 1
                    else:
                        m["assets_found"] += 1
                    children_batch.append((it.seq, pos, kind, url, it.depth + 1))

        # enqueue children in canonical (parent_seq, link_pos) order
        for parent_seq, pos, kind, url, depth in sorted(children_batch):
            if depth > cfg.max_depth:
                continue  # [EXTENSION] never pushed, never seen
            push(url, kind, depth, enqueue_round=rnd + 1)

        res.metrics.append(m)
        # next frontier = deferred + new arrivals: exactly the scheduled
        # items not yet fetched/blocked (deferred kept their seq)
        frontier = [it for it in res.schedule if it.fetch_round < 0 and it.status == ""]
        rnd += 1
        if rnd > 10_000:
            raise RuntimeError("simulator did not terminate")

    return res
