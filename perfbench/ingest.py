"""``warc_ingest``: one ``read_warc(check_digests=True)`` pass over seeded,
gzip-member ``.warc.gz`` files of response records.

It stresses ``sources.warc`` and the parse, payload and digest kernels in
Python workers, and touches no frontier code. The files are written in set-up
with ``kernels.build`` from ``sources.pages.make_page`` pages, which cover
every payload encoding the page generator emits: gzip, deflate, raw deflate,
chunked, chunked+gzip, an unknown encoding and identity.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

from harness import box, py_digest, spark_digest
from tracing import jvm_gc_seconds, median, summary

N_RECORDS = 48_000
N_FILES = 16
HASH_COLS = ("filename", "offset", "rec_type", "url", "digest_ok", "payload_length")
KERNEL_FILE_SHARE = 4  # the in-process kernel figures use 1/4 of the files
TRACED_PASSES = 3      # read_warc passes run with spans and job tags on


def _page_ids(seed: int, n: int) -> range:
    # the seed picks a disjoint window of make_page's deterministic id space
    base = (seed % 100_003) * 1_000_003
    return range(base, base + n)


def write_file(path: str, start: int, stop: int) -> None:
    """Write one .warc.gz of gzip-member response records, pages
    ``start`` to ``stop``."""
    from warcio_spark.kernels.build import build_record, serialize_record
    from warcio_spark.sources.pages import make_page

    with open(path, "wb") as f:
        for i in range(start, stop):
            page = make_page(i)
            rec = build_record(
                page["url"], "response", payload=page["html"],
                record_id="<urn:uuid:perfbench-{0}>".format(i),
                warc_date=page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"))
            f.write(serialize_record(rec, gzip=True))


def parse_file(path: str) -> tuple:
    """The in-process reference for one file: (records, hash, err_count,
    records whose digest check did not pass)."""
    from warcio_spark.kernels.parse import parse_warc_bytes

    name = os.path.basename(path)
    with open(path, "rb") as f:
        out = parse_warc_bytes(f.read(), filename=name, check_digests=True)
    recs = out["records"]
    n, h = py_digest(
        (tuple(r[c] for c in HASH_COLS) + (r["content"],) for r in recs),
        blob_index=len(HASH_COLS))
    bad = sum(1 for r in recs if r["digest_ok"] is not True)
    return n, h, out["err_count"], bad


class WarcIngest:
    # after two warm-up passes the pass time can still fall by up to 30%
    # over the next four (4 cores, Spark 4.1). A fixed warm-up and a fixed
    # window of timed passes sample every commit at the same passes.
    warmup_ops = 2
    timed_ops = 4

    def __init__(self, spark, workdir: str, seed: int, n_records: int = N_RECORDS,
                 n_files: int = N_FILES):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.items = n_records
        self.n_files = n_files
        self.dir = os.path.join(workdir, "warcs")
        self.expected = None

    def _map(self, task: str, calls: list) -> list:
        """Run ``TASKS[task](*args)`` for every args of ``calls``, spread over
        up to nproc worker processes of this module, and return the results
        (in no set order). Each worker is a plain child process that is
        waited for, so none outlives the run."""
        n = min(box()[0], len(calls))
        procs = [subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), task,
             json.dumps(calls[k::n])], stdout=subprocess.PIPE) for k in range(n)]
        try:
            outs = [p.communicate()[0] for p in procs]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()
        if any(p.returncode for p in procs):
            raise RuntimeError("an input worker failed: exit codes {0}".format(
                [p.returncode for p in procs]))
        return [r for out in outs for r in json.loads(out)]

    def generate(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        ids = _page_ids(self.seed, self.items)
        step = -(-self.items // self.n_files)
        jobs = [(os.path.join(self.dir, "part-{0:05d}.warc.gz".format(k)),
                 ids[k * step:(k + 1) * step]) for k in range(self.n_files)]
        self._map("write", [(path, r.start, r.stop) for path, r in jobs])
        self.paths = sorted(glob.glob(os.path.join(self.dir, "*.warc.gz")))

    def op(self):
        from pyspark.sql import functions as F

        from warcio_spark.sources import read_warc

        recs = read_warc(self.spark, self.dir, check_digests=True)
        return spark_digest(recs, HASH_COLS, blob="content", extra=(
            F.sum("file_err_count"),
            F.count(F.when(~F.coalesce(F.col("digest_ok"), F.lit(False)), 1))))

    def expect(self) -> None:
        """Record count from the generator, content hash from in-process
        parse_warc_bytes over the same files; no file errors and every
        digest check passing."""
        parts = self._map("parse", [(p,) for p in self.paths])
        n = sum(p[0] for p in parts)
        bad_input = n != self.items or any(p[2] or p[3] for p in parts)
        self.expected = None if bad_input else (self.items, sum(p[1] for p in parts), 0, 0)

    def check(self, out) -> bool:
        return self.expected is not None and tuple(out) == self.expected

    def traced(self, tracer, loop, untraced_s: float) -> dict:
        from warcio_spark.kernels.digests import digest_b32
        from warcio_spark.kernels.parse import header_get, parse_warc_bytes
        from warcio_spark.kernels.payload import extract_content, split_gzip_members

        gc0 = jvm_gc_seconds(self.spark)
        for _ in range(TRACED_PASSES):
            with tracer.span("sources.warc.read_warc") as read_span:
                loop.run_once(self.op, self.check)
        read_s = median(tracer.duration(sp) for sp in tracer.find("sources.warc.read_warc"))

        t0 = time.perf_counter()
        blobs = []
        for p in self.paths:
            with open(p, "rb") as f:
                blobs.append(f.read())
        file_read_s = time.perf_counter() - t0
        mb = sum(map(len, blobs)) / 1e6

        sample = blobs[: max(1, len(blobs) // KERNEL_FILE_SHARE)]
        sample_mb = sum(map(len, sample)) / 1e6
        t0 = time.perf_counter()
        for b in sample:
            split_gzip_members(b)
        split_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        parsed = [parse_warc_bytes(b, check_digests=True) for b in sample]
        parse_s = time.perf_counter() - t0
        records = [r for out in parsed for r in out["records"]]

        bodies = [(r["payload"] or b"",
                   header_get(r["http_headers"] or [], "Content-Encoding"),
                   header_get(r["http_headers"] or [], "Transfer-Encoding"))
                  for r in records]
        body_mb = sum(len(b[0]) for b in bodies) / 1e6
        t0 = time.perf_counter()
        for body, ce, te in bodies:
            extract_content(body, ce, te)
        extract_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for body, _, _ in bodies:
            digest_b32(body)
        digest_s = time.perf_counter() - t0

        by_span = tracer.collect_sql()
        read = summary(by_span, [read_span])  # the last traced pass
        everything = summary(by_span, tracer.spans)

        def rate(amount, seconds):
            return amount / seconds if seconds else 0.0

        self.trace_checks, self.trace_detail = {}, {"kernel_files": len(sample)}
        return {
            "sources.warc.read_warc.s": read_s,
            "sources.warc.read_warc.py_worker_s": read.py_worker_s,
            "sources.warc.read_warc.arrow_bytes_out":
                read.total("data returned from Python workers"),
            "sources.warc.read_warc.task_skew": read.task_skew(),
            "sources.warc.file_read.mb_per_sec": rate(mb, file_read_s),
            "kernels.parse.parse_warc_bytes.records_per_sec": rate(len(records), parse_s),
            "kernels.payload.split_gzip_members.mb_per_sec": rate(sample_mb, split_s),
            "kernels.payload.extract_content.mb_per_sec": rate(body_mb, extract_s),
            "kernels.digests.digest_b32.mb_per_sec": rate(body_mb, digest_s),
            "trace.overhead_ratio": read_s / untraced_s,
            "spark.jobs": everything.jobs, "spark.tasks": everything.tasks,
            "spark.shuffle_bytes": everything.shuffle_bytes,
            "spark.spill_bytes": everything.spill_bytes,
            "spark.py_worker_s": everything.py_worker_s,
            "spark.jvm_gc_s": jvm_gc_seconds(self.spark) - gc0,
        }


TASKS = {"write": write_file, "parse": parse_file}

if __name__ == "__main__":
    # a worker of WarcIngest._map: python3 ingest.py <task> <JSON list of args>
    print(json.dumps([TASKS[sys.argv[1]](*a) for a in json.loads(sys.argv[2])]))
