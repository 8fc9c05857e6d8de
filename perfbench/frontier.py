"""``frontier_round``: one ``prepare_candidates -> schedule_round ->
fetch_order`` round of the crawl frontier over a seeded candidate batch.

It stresses ``plans.frontier`` and the canonicalization hop into Python
(``functions.with_canonical_url``) and touches no WARC parsing. The traced
run also drives a checkpointed, resumed ``plans.crawl.crawl`` from a
twentieth of the batch, so the crawl layer is measured on the same frontier
code.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from harness import py_digest, spark_digest
from tracing import jvm_gc_seconds, median, summary

N_URLS = 200_000
# seen keys per candidate. The seen url_hash table (1.6M keys, about 13 MB of
# parquet) is then above the engine's 10 MB broadcast threshold, so the
# anti-join takes the shuffle path it takes at production scale.
SEEN_FACTOR = 8
SEEN_OVERLAP = 0.3     # share of the batch's distinct urls already seen
DUP_SHARE = 0.05       # candidates repeating an earlier url (in-batch dedup)
MESSY_SHARE = 0.08     # uppercase scheme/host, :80, dot segments
PCT_SHARE = 0.02       # percent-encodings only the Python kernel normalizes
N_HOSTS = 97           # the hosts demo_robots() has rules for
CRAWL_ROUNDS = (2, 1)  # first crawl() call, then the resumed one
CRAWL_COMPACT_EVERY = 2
CRAWL_SEED_SHARE = 20  # the crawl starts from 1/20 of the batch's clean urls
TRACED_ROUNDS = 2      # fused rounds run with spans and job tags on
# The stage spans' sum over the traced fused round's median must lie in this
# range. Stages forced one at a time each pay their own job start-up and
# planning (about half a second a stage on 4 cores), which the fused round
# pays once, so the sum runs at about twice the fused round. Below the range,
# part of the round's work escaped every stage span; above it, a stage did
# work the fused round does not.
STAGE_SUM_RANGE = (0.8, 4.0)

CLEAN = "http://host{0}.example.com/p/{1}?q={2}"
MESSY = "HTTP://Host{0}.Example.COM:80/a/../p/{1}?q={2}"
PCT = "http://host{0}.example.com/p%41/{1}?q=%2f{2}"

FETCH_COLS = ("fetch_order", "url_canon", "host_rank", "fetch_ts_offset")
STAGES = ("with_frontier_keys", "dedup_candidates", "not_seen",
          "apply_robots", "schedule_round", "fetch_order")


def make_batch(seed: int, n: int):
    """The seeded candidate batch and the part of the seen set it overlaps.

    Returns (rows, noncanonical_rows, seen_urls, clean_rows): rows are
    (url, priority, seq); seen urls are canonical by construction; 30% and
    15% of urls sit on two mega-hosts. The rest of the seen set is
    ``seen_filler``'s keys."""
    rng = random.Random(seed)
    keys, rows, clean_rows, noncanon = [], [], [], []
    for seq in range(n):
        if keys and rng.random() < DUP_SHARE:
            key = keys[rng.randrange(len(keys))]
        else:
            r = rng.random()
            host = 0 if r < 0.30 else 1 if r < 0.45 else rng.randrange(2, N_HOSTS)
            key = (host, rng.getrandbits(40), rng.randrange(7))
            keys.append(key)
        kind = rng.random()
        clean = kind >= PCT_SHARE + MESSY_SHARE
        url = (CLEAN if clean else PCT if kind < PCT_SHARE else MESSY).format(*key)
        row = (url, rng.randrange(1000) / 10.0, seq)
        rows.append(row)
        (clean_rows if clean else noncanon).append(row)
    seen_keys = rng.sample(keys, int(len(keys) * SEEN_OVERLAP))
    return rows, noncanon, [CLEAN.format(*k) for k in seen_keys], clean_rows


def seen_filler(seed: int, n: int):
    """``n`` seeded seen keys (``url_hash`` values) of urls outside the
    batch: uniform 64-bit values, which meet one of the batch's ~200k keys
    with odds of about 2e-8 for a seed (and a meeting would show as a failed
    round check, not pass silently). So the reference crawler needs only the
    overlapping seen urls, and the filler never has to exist as urls."""
    import numpy as np

    rng = np.random.default_rng([seed, 0x5EE7])
    return rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                        size=n, dtype=np.int64, endpoint=True)


def write_parquet(path: str, columns: dict, files: int) -> None:
    """Write ``columns`` as ``files`` parquet files (so a scan has that many
    tasks) without going through Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, "part-{0:05d}.parquet".format(i)))


def rows_to_columns(rows) -> dict:
    import pyarrow as pa

    return {"url": pa.array([r[0] for r in rows], pa.string()),
            "priority": pa.array([r[1] for r in rows], pa.float64()),
            "seq": pa.array([r[2] for r in rows], pa.int64())}


class FrontierRound:
    # the first two rounds are much slower than the rest, and round times
    # keep drifting down after them, by about a fifth over the next four
    # (each round re-plans its query; 4 cores, Spark 4.1). A fixed warm-up
    # and a fixed window of timed rounds sample every commit at the same
    # rounds. A round is about 4 s, most of it per-round jobs and planning;
    # a longer warm-up or window would not fit the runs' time budget.
    warmup_ops = 4
    timed_ops = 4

    def __init__(self, spark, workdir: str, seed: int, n_urls: int = N_URLS):
        from warcio_spark.plans.frontier import PolitenessConfig

        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.items = n_urls
        self.cfg = PolitenessConfig(
            slot_seconds=600, default_crawl_delay=1.0, max_host_budget=500,
            salt_buckets=spark.sparkContext.defaultParallelism * 4)
        self.expected = None

    # ---------------------------------------------------------------- setup

    def generate(self) -> None:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql import functions as F

        from warcio_spark.plans.frontier import demo_robots, sample_order_boundaries

        spark, d = self.spark, self.workdir
        rows, self.noncanonical, seen_urls, clean = make_batch(self.seed, self.items)
        self.rows, self.seen_urls = rows, seen_urls
        self.seed_rows = clean[: max(1, self.items // CRAWL_SEED_SHARE)]
        parts = spark.sparkContext.defaultParallelism * 2
        write_parquet(os.path.join(d, "cands"), rows_to_columns(rows), parts)
        write_parquet(os.path.join(d, "seen_urls"),
                      {"url": pa.array(seen_urls, pa.string())}, parts)
        write_parquet(os.path.join(d, "crawl_seeds"),
                      rows_to_columns(self.seed_rows), parts)
        # the seen set is storage-resident in production: materialize it.
        # Seen urls are canonical by construction, so their key is xxhash64
        # of the url itself, as with_frontier_keys computes it; were it not,
        # seen candidates would pass not_seen and fail the round check.
        overlap = [r[0] for r in spark.read.parquet(os.path.join(d, "seen_urls"))
                   .select(F.xxhash64("url")).collect()]
        keys = np.concatenate([np.array(overlap, np.int64), seen_filler(
            self.seed, SEEN_FACTOR * self.items - len(overlap))])
        np.random.default_rng(self.seed).shuffle(keys)
        write_parquet(os.path.join(d, "seen"), {"url_hash": pa.array(keys)}, parts)
        self.cands = spark.read.parquet(os.path.join(d, "cands"))
        self.seen = spark.read.parquet(os.path.join(d, "seen"))
        self.robots = demo_robots(spark)
        # sampled once and reused, as crawl() does
        self.bounds = sample_order_boundaries(self.cands)

    # ------------------------------------------------------------ the round

    def op(self):
        from warcio_spark.plans.frontier import (
            fetch_order,
            prepare_candidates,
            schedule_round,
        )

        tracker: list = []
        out = fetch_order(
            schedule_round(prepare_candidates(self.cands, self.seen, self.robots,
                                              self.cfg), self.cfg),
            boundaries=self.bounds, persist_tracker=tracker)
        try:
            return spark_digest(out, FETCH_COLS)
        finally:
            for df in tracker:
                df.unpersist(blocking=True)

    # ------------------------------------------------------------- checking

    def oracle_config(self):
        from warcio_spark.plans.reference_crawler import OracleConfig

        return OracleConfig(slot_seconds=self.cfg.slot_seconds,
                            default_crawl_delay=self.cfg.default_crawl_delay,
                            max_host_budget=self.cfg.max_host_budget)

    def robots_dict(self) -> dict:
        return {r["host"]: {"allowed": r["allowed"], "crawl_delay": r["crawl_delay"]}
                for r in self.robots.collect()}

    def expect(self) -> None:
        """The reference crawler's fetch list for the same inputs."""
        from warcio_spark.plans.reference_crawler import schedule

        picked = schedule(
            [{"url": u, "priority": p, "seq": s} for u, p, s in self.rows],
            set(self.seen_urls), self.robots_dict(), self.oracle_config())
        self.expected = py_digest(tuple(c[k] for k in FETCH_COLS) for c in picked)

    def check(self, out) -> bool:
        return out == self.expected

    # -------------------------------------------------------------- tracing

    def traced(self, tracer, loop, untraced_s: float) -> dict:
        """Fused rounds with tracing on, the round again stage by stage on
        materialized inputs, the canonicalization hop on its own, the URL
        kernel in-process, then the checkpointed crawl."""
        from warcio_spark import functions as WF
        from warcio_spark.kernels.urls import canonicalize_url

        spark = self.spark
        gc0 = jvm_gc_seconds(spark)

        for _ in range(TRACED_ROUNDS):
            with tracer.span("frontier_round"):
                loop.run_once(self.op, self.check)
        traced_round_s = median(tracer.duration(sp) for sp in tracer.find("frontier_round"))

        round_outputs: dict = {}
        loop.run_once(lambda: self._staged_round(tracer, round_outputs), self.check)

        with tracer.span("functions.with_canonical_url") as canon_span:
            WF.with_canonical_url(self.cands).write.format("noop").mode(
                "overwrite").save()

        t0 = time.perf_counter()
        for u, _, _ in self.noncanonical:
            canonicalize_url(u)
        kernel_s = time.perf_counter() - t0

        crawl_calls = self._traced_crawl(tracer, loop)
        by_span = tracer.collect_sql()
        gc_s = jvm_gc_seconds(spark) - gc0

        m = {}
        canon = summary(by_span, [canon_span])
        m["functions.with_canonical_url.s"] = tracer.duration(canon_span)
        m["functions.with_canonical_url.py_rows"] = canon.py_rows
        m["functions.with_canonical_url.py_worker_s"] = canon.py_worker_s
        m["kernels.urls.canonicalize_url.urls_per_sec"] = \
            len(self.noncanonical) / kernel_s if kernel_s else 0.0

        stage_spans = {s: tracer.find("plans.frontier." + s)[-1] for s in STAGES}
        for s, sp in stage_spans.items():
            m["plans.frontier.{0}.s".format(s)] = tracer.duration(sp)
        for s in ("dedup_candidates", "not_seen", "schedule_round", "fetch_order"):
            m["plans.frontier.{0}.shuffle_bytes".format(s)] = \
                summary(by_span, [stage_spans[s]]).shuffle_bytes
        sched = summary(by_span, [stage_spans["schedule_round"]])
        m["plans.frontier.schedule_round.task_skew"] = sched.task_skew()
        m["plans.frontier.schedule_round.spill_bytes"] = sched.spill_bytes
        for s in ("dedup_candidates", "not_seen", "schedule_round"):
            rows_in, rows_out = round_outputs[s]
            m["plans.frontier.{0}.rows_in".format(s)] = rows_in
            m["plans.frontier.{0}.rows_out_ratio".format(s)] = rows_out / rows_in if rows_in else 0.0
        stage_sum = sum(tracer.duration(sp) for sp in stage_spans.values())
        m["trace.stage_sum_ratio"] = stage_sum / traced_round_s
        m["trace.overhead_ratio"] = traced_round_s / untraced_s
        crawl_m, per_round = crawl_round_metrics(tracer, by_span, self.crawl_state,
                                                 crawl_calls)
        m.update(crawl_m)

        everything = summary(by_span, tracer.spans)
        m.update({
            "spark.jobs": everything.jobs, "spark.tasks": everything.tasks,
            "spark.shuffle_bytes": everything.shuffle_bytes,
            "spark.spill_bytes": everything.spill_bytes,
            "spark.py_worker_s": everything.py_worker_s,
            "spark.jvm_gc_s": gc_s,
        })
        self.trace_checks = {
            "py_rows_equals_generated_noncanonical":
                m["functions.with_canonical_url.py_rows"] == len(self.noncanonical),
            "stage_sum_within_range":
                STAGE_SUM_RANGE[0] <= m["trace.stage_sum_ratio"] <= STAGE_SUM_RANGE[1],
        }
        self.trace_detail = {"generated_noncanonical": len(self.noncanonical),
                             "traced_round_s": traced_round_s,
                             "stage_sum_s": stage_sum,
                             "stage_sum_range": STAGE_SUM_RANGE,
                             "crawl_rounds": per_round}
        return m

    def _staged_round(self, tracer, outputs: dict):
        """The round stage by stage, with the same public calls in the same
        order as prepare_candidates. Each stage span forces that stage over
        the previous stage's output, which was materialized in memory by
        the span before it. So each stage span is that stage's self time,
        and their sum can be held against the fused round's traced wall
        time."""
        from warcio_spark.plans.frontier import (
            apply_robots,
            dedup_candidates,
            fetch_order,
            not_seen,
            schedule_round,
            with_frontier_keys,
        )

        from pyspark import StorageLevel

        cached: list = []

        def stage(name, build):
            with tracer.span("plans.frontier." + name):
                df = build().persist(StorageLevel.MEMORY_AND_DISK)
                cached.append(df)
                df.count()
            return df

        tracker: list = []
        with tracer.span("frontier_round_staged"):
            keyed = stage("with_frontier_keys", lambda: with_frontier_keys(self.cands))
            deduped = stage("dedup_candidates", lambda: dedup_candidates(keyed))
            unseen = stage("not_seen", lambda: not_seen(deduped, self.seen))
            allowed = stage("apply_robots",
                            lambda: apply_robots(unseen, self.robots, self.cfg))
            scheduled = stage("schedule_round", lambda: schedule_round(allowed, self.cfg))
            with tracer.span("plans.frontier.fetch_order"):
                out = spark_digest(
                    fetch_order(scheduled, boundaries=self.bounds,
                                persist_tracker=tracker), FETCH_COLS)
        n_keyed, n_deduped, n_unseen, n_allowed, n_scheduled = (
            df.count() for df in (keyed, deduped, unseen, allowed, scheduled))
        for df in tracker + cached:
            df.unpersist(blocking=True)
        outputs["dedup_candidates"] = (n_keyed, n_deduped)
        outputs["not_seen"] = (n_deduped, n_unseen)
        outputs["schedule_round"] = (n_allowed, n_scheduled)
        return out

    def _traced_crawl(self, tracer, loop) -> list:
        """A checkpointed crawl() that stops after CRAWL_ROUNDS[0] rounds and
        is resumed for CRAWL_ROUNDS[1] more; its fetch log must equal the
        reference crawler's over all rounds. Per-round figures come from the
        crawl's own committed state (round=N/_COMMIT, metrics.json)."""
        from pyspark.sql import functions as F

        from warcio_spark.plans import reference_crawler
        from warcio_spark.plans.crawl import crawl, fetch_log, oracle_outlinks

        spark = self.spark
        state = self.crawl_state = os.path.join(self.workdir, "crawl_state")
        shutil.rmtree(state, ignore_errors=True)
        seeds = spark.read.parquet(os.path.join(self.workdir, "crawl_seeds"))
        calls = []

        def run():
            for i, rounds in enumerate(CRAWL_ROUNDS):
                name = "plans.crawl.crawl" if i == 0 else "plans.crawl.resume"
                with tracer.span(name) as sp:
                    crawl(spark, seeds, self.robots, state, rounds, self.cfg,
                          compact_every=CRAWL_COMPACT_EVERY)
                calls.append(sp)
            return sorted(tuple(r) for r in fetch_log(spark, state).select(
                "round", "fetch_order", "url_canon").orderBy(
                F.col("round"), F.col("fetch_order")).collect())

        log, _ = reference_crawler.crawl(
            [{"url": u, "priority": p, "seq": s} for u, p, s in self.seed_rows],
            self.robots_dict(), oracle_outlinks, sum(CRAWL_ROUNDS),
            self.oracle_config())
        expected = sorted(log)
        loop.run_once(run, lambda got: got == expected)
        return calls


def crawl_round_metrics(tracer, by_span: dict, state_dir: str, calls: list) -> dict:
    """Per-round crawl figures from the committed state. Round n runs from
    the previous commit (or the start of its crawl() call) to its own
    commit; its write phase is that interval minus the round's own
    ``wall_sec`` (time until its scheduled set was computed). Returns
    (metrics, per-round records)."""
    from warcio_spark.plans.crawl import RoundState

    st = RoundState(state_dir)
    rounds = st.committed_rounds()
    commit = {}
    for n in rounds:
        with open(os.path.join(st.round_dir(n), "_COMMIT")) as f:
            commit[n] = float(f.read())
    starts = [c["start"] for c in calls]
    executions = [e for sp in tracer.spans if sp["name"].startswith("plans.crawl.")
                  for e in by_span.get(sp["id"], [])]
    per = []
    for n in rounds:
        prev = commit.get(n - 1, 0.0)
        start = max([prev] + [s for s in starts if s <= commit[n]])
        meta = st.read_metrics(n)
        files = nbytes = 0
        for dp, _, fns in os.walk(st.round_dir(n)):
            for fn in fns:
                if fn.startswith("part-"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dp, fn))
        jobs = sum(len(e["jobs"]) for e in executions
                   if start <= e["submitted_ms"] / 1000.0 <= commit[n])
        per.append({"round": n, "s": commit[n] - start,
                    "write_s": commit[n] - start - meta["wall_sec"],
                    "compacted": meta["compacted"], "jobs": jobs,
                    "files": files, "bytes": nbytes,
                    "candidates": meta["n_candidates"],
                    "scheduled": meta["n_scheduled"]})
    plain = [r["s"] for r in per if not r["compacted"]]
    compacted = [r["s"] for r in per if r["compacted"]]
    return {
        "plans.crawl.round_s": median(plain),
        "plans.crawl.compaction_round_s": median(compacted),
        "plans.crawl.resume_s": tracer.duration(calls[-1]),
        "plans.crawl.jobs_per_round": median(r["jobs"] for r in per),
        "plans.crawl.write_round_s": median(r["write_s"] for r in per),
        "plans.crawl.bytes_written_per_round": median(r["bytes"] for r in per),
        "plans.crawl.files_written_per_round": median(r["files"] for r in per),
        "plans.crawl.candidates_per_round": statistics.median_low(
            r["candidates"] for r in per) if per else 0,
        "plans.crawl.scheduled_per_round": statistics.median_low(
            r["scheduled"] for r in per) if per else 0,
    }, per

