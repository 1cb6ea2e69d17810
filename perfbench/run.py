"""Ingest / query benchmark for angle_spark.

    python3 perfbench/run.py --workload ingest|query --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client drives the package's
public functions against ``local[nproc]`` Spark in this fresh process; the
last stdout line is the JSON result (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). NOTES.md explains the workloads, the
metrics and the noise controls.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
MIN_FREE_BYTES = 2 << 30
DRIVER_HEAP = "2g"  # the working set is tens of MB; the package default is 48g

SETUP_REPS = 2  # repeated set-up steps (ingest: bulk builds; query: streamed micro-batches)
MERGE_EVERY = 2  # ingest: incremental merge after every 2nd append cycle
WARM_BATCHES = 1  # query: untimed batches on the served index before timing
QUERY_ROUND = 5  # query: timed batches per round, one of each of BATCH_MODES
ORACLE_SAMPLE = 5  # leading queries of each timed large batch checked against the oracle


class Aborted(Exception):
    """A call into the package raised: the run stops and reports it failed."""


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _qdf(queries: list[dict]):
    import pandas as pd

    return pd.DataFrame(
        [(q["query_id"], q["text"], int(q["k"])) for q in queries],
        columns=["query_id", "text", "k"],
    )


class Bench:
    def __init__(self, spark, cores: int, manifest: dict, input_dir: str, run_dir: str, trace: bool):
        from measure import StatusCounters, Tracer

        self.spark = spark
        self.cores = cores
        self.m = manifest
        self.input_dir = input_dir
        self.run_dir = run_dir
        self.trace = trace
        self.tracer = Tracer(StatusCounters(spark) if trace else None)
        self.attempted = 0
        self.errors: dict[int, list[str]] = {}  # span index -> check failures
        self.searcher = None
        self.meta = None
        self.out = ""
        self.hw = 0  # docID high-water mark of the served index
        self.tails = 0  # micro-batches streamed into the served index
        self.deleted: set[int] = set()
        self.cycles: list[dict] = []  # per append cycle: turns, append_s, visible_s, stream_s
        self.reps: list[float] = []  # seconds of each repeated set-up step
        self.build_phases = ("setup",)  # where the build samples come from
        # (span index, mode, queries, result, deleted, tails) per search
        self.searches: list[tuple] = []
        self.layer: dict = {}

    # -- calls -----------------------------------------------------------

    def call(self, name: str, fn, request: str = "", check=None):
        """Time one call into the package; a failed check marks it failed,
        and an exception marks it failed and aborts the run."""
        idx = len(self.tracer.spans)
        self.attempted += 1
        with self.tracer.span(name, request):
            try:
                out = fn()
            except Exception as e:
                msg = str(e).strip().splitlines()
                self.fail(idx, f"raised {type(e).__name__}: {msg[0][:300] if msg else ''}")
                raise Aborted from e
        if check is not None:
            err = check(out)
            if err:
                self.fail(idx, err)
        return out

    def fail(self, idx: int, err: str) -> None:
        self.errors.setdefault(idx, []).append(err)
        print(f"CHECK FAILED [{self.tracer.spans[idx].name}]: {err}", file=sys.stderr)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.input_dir, name))

    def search(self, queries: list[dict], mode: str, request: str):
        res = self.call(
            "wand.batch",
            lambda: self.searcher.search(_qdf(queries), mode=mode).toPandas(),
            request,
        )
        self.searches.append(
            (len(self.tracer.spans) - 1, mode, queries, res, frozenset(self.deleted), self.tails)
        )
        return res

    # -- index lifecycle -------------------------------------------------

    def build(self, out: str, request: str):
        """Bulk build from the raw corpus: docIDs, tokens, segments, merge."""
        from angle_spark.index.build import build_index
        from angle_spark.index.stats import with_tokens
        from angle_spark.operators.docids import assign_doc_ids

        raw, turns, holder = self.read("base"), int(self.m["base_turns"]), {}

        def build():
            holder["assigned"] = assign_doc_ids(raw)
            docs = with_tokens(holder["assigned"]).select("doc_id", "tokens", "dl")
            return build_index(self.spark, docs, out)

        meta = self.call(
            "build.build_index", build, request,
            check=lambda m: None if m.n_docs == turns else f"n_docs {m.n_docs} != {turns}",
        )
        src = getattr(holder["assigned"], "_persisted_source", None)
        if src is not None:
            src.unpersist()
        # the searchable structures; lineage/ is a commit log whose rows carry
        # wall-clock fields, so its size is not a function of the input
        for part in ("segments", "merged", "term_stats"):
            self.layer[f"{part}_bytes"] = _dir_bytes(os.path.join(out, part))
        self.layer["index_bytes"] = sum(self.layer[f"{p}_bytes"] for p in ("segments", "merged", "term_stats"))
        return meta

    def open(self, out: str, meta, request: str):
        from angle_spark.query.searcher import Searcher

        searcher = self.call(
            "searcher.open", lambda: Searcher(self.spark, out), request,
            check=lambda s: None if s.meta.n_docs == meta.n_docs else f"n_docs {s.meta.n_docs}",
        )
        if self.trace and "persisted_bytes" not in self.layer:  # the served searcher alone
            infos = self.spark._jsc.sc().getRDDStorageInfo()
            self.layer["persisted_bytes"] = sum(
                infos[i].diskSize() + infos[i].memSize() for i in range(len(infos))
            )
        return searcher

    def stream(self, c: int) -> None:
        """Append micro-batch ``c``, make it visible with a refresh, and prove
        it with a probe that must return one appended turn."""
        from angle_spark.streaming.maintain import append_micro_batch

        batch = self.read(f"tail_{c:02d}.parquet")
        n, probe = self.m["tail_turns"][c], self.m["probes"][c]
        want_hw = self.hw + n
        req = f"c{c:02d}"
        t0 = time.perf_counter()
        self.hw = self.call(
            "maintain.append",
            lambda: append_micro_batch(batch, c, self.out, self.hw),
            req, check=lambda h: None if h == want_hw else f"high-water {h} != {want_hw}",
        )
        append_s = self.tracer.spans[-1].seconds
        self.tails += 1
        self.call(
            "searcher.refresh", self.searcher.refresh, req,
            check=lambda s: None if s.meta.n_docs == want_hw else f"n_docs {s.meta.n_docs} != {want_hw}",
        )
        res = self.search([probe], "and", req)
        stream_s = time.perf_counter() - t0
        found = probe["doc_id"] in set(res["doc_id"].astype("int64"))
        if not found:
            self.fail(len(self.tracer.spans) - 1, f"probe missed appended doc {probe['doc_id']}")
        self.cycles.append({"phase": self.tracer.phase, "turns": n, "append_s": append_s,
                            "visible_s": stream_s if found else None, "stream_s": stream_s})

    def delete(self, c: int, req: str) -> None:
        """Tombstone the turns listed for cycle ``c``, then pick them up."""
        from angle_spark.index.deletes import delete_docs

        dels = self.m["deletes"][c]
        self.deleted.update(dels)
        n_del = len(self.deleted)
        ids = self.spark.createDataFrame([(d,) for d in dels], "doc_id long")
        self.call(
            "deletes.delete_docs", lambda: delete_docs(self.spark, self.out, ids), req,
            check=lambda k: None if k == n_del else f"{k} tombstones != {n_del}",
        )
        self.call("searcher.refresh_deletes", self.searcher.refresh_deletes, req)

    def cycle(self, c: int) -> None:
        """One ingest cycle: stream a micro-batch, tombstone earlier turns
        (the previous probe's target among them), then serve one small
        batch of regular searches; every MERGE_EVERY-th cycle ends in a
        merge."""
        from angle_spark.index.build import merge_index

        self.stream(c)
        req = f"c{c:02d}"
        self.delete(c, req)
        self.search(self.m["smalls"][c], "or", req)
        if c % MERGE_EVERY == MERGE_EVERY - 1:
            meta = dataclasses.replace(self.searcher.meta)
            self.call(
                "build.merge_incremental",
                lambda: merge_index(self.spark, self.out, meta, incremental=True), req,
            )

    # -- phases ----------------------------------------------------------

    def prepare(self, workload: str) -> None:
        """Warm-up, then the measured set-up repetitions.

        The process's first build pays JVM and Python-worker start-up; its
        index is the served one. ``ingest`` then repeats the bulk build
        SETUP_REPS times on fresh directories (its warm build samples) and
        runs an untimed small batch. ``query`` streams SETUP_REPS
        micro-batches into the served index (append, refresh, probe: the
        source of its append metrics) and runs an untimed large batch; its
        build sample is the first, cold build, since repeating a warm build
        would cost the time its timed batches need. The untimed searches
        bring the search path to its plateau before timing starts."""
        m = self.m
        self.tracer.phase = "warmup"
        out = os.path.join(self.run_dir, "served")
        self.meta = self.build(out, "w")
        self.out, self.hw = out, self.meta.n_docs
        self.searcher = self.open(out, self.meta, "w")
        self.tracer.phase = "setup"
        if workload == "ingest":
            for r in range(SETUP_REPS):
                rep = os.path.join(self.run_dir, f"rep{r}")
                self.build(rep, f"r{r}")
                self.reps.append(self.tracer.spans[-1].seconds)
                shutil.rmtree(rep, ignore_errors=True)
        else:
            self.build_phases = ("warmup",)
            for c in range(SETUP_REPS):
                self.stream(c)
                self.reps.append(self.cycles[-1]["stream_s"])
        self.tracer.phase = "warmup"
        if workload == "query":
            for b in m["batches"][-WARM_BATCHES:]:
                self.search(b["queries"], b["mode"], "w")
        else:
            self.search(m["smalls"][-1], "or", "w")

    def timed(self, workload: str, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed (at least one; traced
        runs do exactly one, so their counters repeat). A round fixes the
        mix: ingest = MERGE_EVERY cycles ending in a merge; query =
        QUERY_ROUND batches cycling through BATCH_MODES."""
        self.tracer.phase = "timed"
        m = self.m
        per = MERGE_EVERY if workload == "ingest" else QUERY_ROUND
        pool = len(m["probes"]) if workload == "ingest" else len(m["batches"]) - WARM_BATCHES
        t0 = time.perf_counter()
        for i in range(pool // per * per):
            if i % per == 0 and i and (self.trace or time.perf_counter() - t0 >= seconds):
                break
            if workload == "ingest":
                self.cycle(i)
            else:
                b = m["batches"][i]
                self.search(b["queries"], b["mode"], f"b{i:03d}")

    def layers(self) -> None:
        """Traced runs only: a Searcher open of the served index, stand-alone
        calls that split the build into its stages, maintenance calls (a
        delete among them, so ``query`` has one too) and the codec over a
        posting sample."""
        from pyspark.sql import functions as F

        from angle_spark.index.build import load_index, merge_index, refresh_corpus_stats
        from angle_spark.index.fsck import fsck_index
        from angle_spark.index.spimi import build_segments
        from angle_spark.index.stats import with_tokens
        from angle_spark.operators.docids import assign_doc_ids

        self.tracer.phase = "layer"
        self.open(self.out, self.searcher.meta, "").close()
        raw = self.read("base")
        holder = {}

        def assign():
            holder["a"] = assign_doc_ids(raw)
            holder["a"].write.format("noop").mode("overwrite").save()

        self.call("docids.assign", assign)
        pre = holder["a"].localCheckpoint()
        src = getattr(holder["a"], "_persisted_source", None)
        if src is not None:
            src.unpersist()
        self.call("stats.tokenize",
                  lambda: with_tokens(pre).write.format("noop").mode("overwrite").save())
        tok = with_tokens(pre).select("doc_id", "tokens", "dl").localCheckpoint()
        avgdl = tok.agg(F.avg("dl")).collect()[0][0]
        row = self.call(
            "spimi.encode",
            lambda: build_segments(tok, avgdl, self.meta.segment_docs)
            .agg(F.count(F.lit(1)).alias("blocks"), F.sum("n_postings").alias("postings"))
            .collect()[0],
        )
        self.layer["spimi_blocks"], self.layer["spimi_postings"] = row["blocks"], row["postings"]
        meta = self.call("build.refresh_corpus_stats", lambda: refresh_corpus_stats(self.spark, self.out))
        self.call("build.merge_incremental",
                  lambda: merge_index(self.spark, self.out, meta, incremental=True))
        meta = self.call("build.load_index", lambda: load_index(self.spark, self.out))[2]
        self.layer["delta_runs"] = len(meta.delta_runs)
        self.delete(len(self.cycles), "")
        self.call("index.fsck", lambda: fsck_index(self.spark, self.out).count(),
                  check=lambda n: None if n == 0 else f"fsck found {n} violations")
        self.codec(os.path.join(self.out, "merged"))

    def codec(self, merged_dir: str) -> None:
        """Single-process encode/decode rates over the first blocks (in
        term order) of the built index."""
        from angle_spark import codec

        rows = (
            self.spark.read.parquet(merged_dir)
            .orderBy("term", "segment_id", "block_in_seg")
            .select("docs_bin", "tfs_bin").limit(4000).toPandas()
        )
        docs = [bytes(b) for b in rows["docs_bin"]]
        tfs = [bytes(b) for b in rows["tfs_bin"]]
        nbytes = sum(map(len, docs)) + sum(map(len, tfs))
        doc_arrays = [codec.decode_doc_deltas(b) for b in docs]
        tf_arrays = [codec.decode_tfs(b) for b in tfs]

        def decode():
            reps = 0
            t0 = time.perf_counter()
            while reps < 3 or time.perf_counter() - t0 < 0.3:
                codec.decode_doc_deltas_concat(docs)
                codec.decode_varints_concat(tfs)
                reps += 1
            return reps

        def encode():
            reps = 0
            t0 = time.perf_counter()
            while reps < 3 or time.perf_counter() - t0 < 0.3:
                for d, t in zip(doc_arrays, tf_arrays):
                    codec.encode_doc_deltas(d)
                    codec.encode_tfs(t)
                reps += 1
            return reps

        for name, fn in (("codec.decode", decode), ("codec.encode", encode)):
            reps = self.call(name, fn)
            self.layer[name] = nbytes * reps / self.tracer.spans[-1].seconds / 1e6

    # -- results ---------------------------------------------------------

    def check_results(self) -> None:
        """Invariants on every search; the oracle on every small-batch search
        after warm-up and on a fixed sample of each timed large batch."""
        import pandas as pd

        from angle_spark.oracle import Bm25Oracle
        from checks import invariant_errors, oracle_errors
        from inputs import SMALL_QUERIES

        parts = [pd.read_parquet(os.path.join(self.input_dir, "base"))]
        oracles = {}  # micro-batches streamed -> oracle over that corpus
        for idx, mode, queries, res, deleted, tails in self.searches:
            errs = invariant_errors(res, queries, set(deleted))
            phase = self.tracer.spans[idx].phase
            sample = [] if phase == "warmup" else (
                queries if len(queries) <= SMALL_QUERIES
                else queries[:ORACLE_SAMPLE] if phase == "timed" else [])
            if sample:
                while len(parts) <= tails:
                    parts.append(pd.read_parquet(
                        os.path.join(self.input_dir, f"tail_{len(parts) - 1:02d}.parquet")))
                if tails not in oracles:
                    oracles[tails] = Bm25Oracle(pd.concat(parts[: tails + 1], ignore_index=True))
                errs += oracle_errors(oracles[tails], res, sample, mode, set(deleted))
            for e in errs:
                self.fail(idx, e)


def end_to_end(b: Bench, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    from measure import median

    t = b.tracer
    builds = t.durations("build.build_index", b.build_phases)
    lat = [s.seconds for s in t.select("wand.batch", ("timed",))]
    n_queries = sum(len(q) for i, _, q, _, _, _ in b.searches if t.spans[i].phase == "timed")
    cycles = [c for c in b.cycles if c["phase"] != "warmup"]
    append_rates = [c["turns"] / c["append_s"] for c in cycles]
    visible = [c["visible_s"] for c in cycles if c["visible_s"] is not None]
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "build_turns_per_s": (b.m["base_turns"] / median(builds), "turns/s", len(builds)),
        "index_bytes_per_text_byte": (b.layer["index_bytes"] / b.m["base_text_bytes"], "ratio", 1),
        "append_turns_per_s": (median(append_rates), "turns/s", len(append_rates)),
        "append_visible_p50_s": (median(visible), "s", len(visible)),
        "search_p50_s": (median(lat), "s", len(lat)),
        "query_qps": (n_queries / sum(lat), "1/s", len(lat)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    return ({k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            {k: n for k, (_, _, n) in metrics.items()})


def per_layer(b: Bench, alu: tuple[float, float], run_s: float) -> tuple[dict, dict]:
    from measure import driver_wait, median

    t = b.tracer

    def med(name, phases=("setup", "timed", "layer")):
        return median(t.durations(name, phases)), len(t.select(name, phases))

    def counter(name, key, scale=1.0, phases=("setup", "timed", "layer")):
        sp = t.select(name, phases)
        return median(s.counters.get(key, 0) * scale for s in sp), len(sp)

    builds = b.build_phases
    wand = t.select("wand.batch", ("timed",))
    n_q = [len(q) for i, _, q, _, _, _ in b.searches if t.spans[i].phase == "timed"]
    rows = [len(r) for i, _, _, r, _, _ in b.searches if t.spans[i].phase == "timed"]
    wall = sum(s.seconds for s in wand)
    run_s_total = sum(s.counters.get("executorRunTime", 0) for s in wand) / 1e3
    per = len(wand)

    def wsum(key, scale=1.0):
        return sum(s.counters.get(key, 0) for s in wand) * scale / per, per

    m = {
        "docids.assign_s": (*med("docids.assign"), "s"),
        "stats.tokenize_s": (*med("stats.tokenize"), "s"),
        "spimi.encode_s": (*med("spimi.encode"), "s"),
        "spimi.blocks": (b.layer["spimi_blocks"], 1, "count"),
        "spimi.postings": (b.layer["spimi_postings"], 1, "count"),
        "codec.encode_mb_per_s": (b.layer["codec.encode"], 1, "MB/s"),
        "codec.decode_mb_per_s": (b.layer["codec.decode"], 1, "MB/s"),
        "build.build_index_s": (*med("build.build_index", builds), "s"),
        "build.jobs": (*counter("build.build_index", "jobs", phases=builds), "count"),
        "build.stages": (*counter("build.build_index", "stages", phases=builds), "count"),
        "build.tasks": (*counter("build.build_index", "tasks", phases=builds), "count"),
        "build.shuffle_write_bytes": (*counter("build.build_index", "shuffleWriteBytes", phases=builds), "bytes"),
        "build.spill_bytes": (median(s.counters.get("memoryBytesSpilled", 0) + s.counters.get("diskBytesSpilled", 0)
                                     for s in t.select("build.build_index", builds)),
                              len(t.select("build.build_index", builds)), "bytes"),
        "build.gc_s": (*counter("build.build_index", "jvmGcTime", 1e-3, builds), "s"),
        "build.executor_run_s": (*counter("build.build_index", "executorRunTime", 1e-3, builds), "s"),
        "build.driver_wait_s": (median(driver_wait(s) for s in t.select("build.build_index", builds)),
                                len(t.select("build.build_index", builds)), "s"),
        "build.segments_bytes": (b.layer["segments_bytes"], 1, "bytes"),
        "build.merged_bytes": (b.layer["merged_bytes"], 1, "bytes"),
        "build.term_stats_bytes": (b.layer["term_stats_bytes"], 1, "bytes"),
        "build.merge_incremental_s": (*med("build.merge_incremental"), "s"),
        "build.delta_runs": (b.layer["delta_runs"], 1, "count"),
        "build.refresh_corpus_stats_s": (*med("build.refresh_corpus_stats"), "s"),
        "build.load_index_s": (*med("build.load_index"), "s"),
        "maintain.append_s": (*med("maintain.append"), "s"),
        "maintain.append_jobs": (*counter("maintain.append", "jobs"), "count"),
        "maintain.append_shuffle_bytes": (median(s.counters.get("shuffleReadBytes", 0) + s.counters.get("shuffleWriteBytes", 0)
                                                 for s in t.select("maintain.append")),
                                          len(t.select("maintain.append")), "bytes"),
        "maintain.append_executor_run_s": (*counter("maintain.append", "executorRunTime", 1e-3), "s"),
        "deletes.delete_docs_s": (*med("deletes.delete_docs"), "s"),
        "searcher.refresh_deletes_s": (*med("searcher.refresh_deletes"), "s"),
        "searcher.open_s": (*med("searcher.open", ("layer",)), "s"),
        "searcher.refresh_s": (*med("searcher.refresh"), "s"),
        "searcher.persisted_bytes": (b.layer["persisted_bytes"], 1, "bytes"),
        "wand.batch_s": (median(s.seconds for s in wand), per, "s"),
        "wand.jobs_per_batch": (*wsum("jobs"), "count"),
        "wand.stages_per_batch": (*wsum("stages"), "count"),
        "wand.tasks_per_batch": (*wsum("tasks"), "count"),
        "wand.shuffle_read_bytes_per_batch": (*wsum("shuffleReadBytes"), "bytes"),
        "wand.executor_run_s_per_batch": (*wsum("executorRunTime", 1e-3), "s"),
        "wand.executor_cpu_s_per_batch": (*wsum("executorCpuTime", 1e-9), "s"),
        "wand.gc_s_per_batch": (*wsum("jvmGcTime", 1e-3), "s"),
        "wand.driver_wait_s_per_batch": (sum(driver_wait(s) for s in wand) / per, per, "s"),
        "wand.core_utilization": (run_s_total / (wall * b.cores), per, "ratio"),
        "wand.rows_per_query": (sum(rows) / sum(n_q), per, "count"),
        "host.alu_ops_per_s_start": (alu[0], 1, "1/s"),
        "host.alu_ops_per_s_end": (alu[1], 1, "1/s"),
        "host.trace_overhead_ratio": (t.overhead_s / run_s, 1, "ratio"),
    }
    return ({k: {"value": float(v), "unit": u} for k, (v, _, u) in m.items()},
            {k: n for k, (_, n, _) in m.items()})


def check_counts_repeat(workload: str, seed: int, metrics: dict) -> str | None:
    """Counts and byte sizes of a traced run must equal those of any earlier
    traced run of the same workload, seed and source tree."""
    import hashlib

    h = hashlib.sha256()
    for d in (os.path.join(ROOT, "angle_spark"), os.path.dirname(os.path.abspath(__file__))):
        for dirpath, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    counts = {k: v["value"] for k, v in metrics.items() if v["unit"] in ("count", "bytes")}
    path = os.path.join(WORK, "counts", f"{workload}-seed{seed}-{h.hexdigest()[:16]}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f)
        return None
    with open(path) as f:
        prev = json.load(f)
    diff = sorted(k for k in counts if prev.get(k) != counts[k])
    return f"counters differ from an earlier traced run: {diff}" if diff else None


def start_spark(run_dir: str):
    from angle_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, cores


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM (and with it the Python workers),
    and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    free = shutil.disk_usage(WORK).free
    if free < MIN_FREE_BYTES:
        print(f"only {free >> 20} MB free under {WORK}", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files and no
    # hsperfdata under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    import inputs
    from measure import alu_ops_per_s, cpu_jiffies, median, peak_rss_mb

    t = time.perf_counter()
    jiffies_start = cpu_jiffies()
    alu_start = alu_ops_per_s()
    manifest = inputs.materialise(WORK, args.seed)
    own_s = time.perf_counter() - t  # benchmark's own work, excluded from setup_s

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    spark, aborted, setup_s, timed_s, rss = None, False, math.nan, math.nan, math.nan
    try:
        log("inputs ready")
        spark, cores = start_spark(run_dir)
        log("session started")
        bench = Bench(spark, cores, manifest, inputs.input_dir(WORK, args.seed), run_dir,
                      bool(args.trace))
        try:
            bench.prepare(args.workload)
            log("set-up done")
            setup_s = (time.perf_counter() - T_START - own_s
                       - sum(bench.reps) + median(bench.reps))
            t_timed = time.perf_counter()
            bench.timed(args.workload, args.seconds)
            timed_s = time.perf_counter() - t_timed
            if args.trace:
                bench.layers()
            log("workload done")
        except Aborted:
            aborted = True
            log("aborted: a call raised")
        rss = peak_rss_mb(spark._jvm.ProcessHandle.current().pid())
        if bench.searcher is not None:
            bench.searcher.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    log("spark stopped")
    bench.check_results()
    log("checks done")
    alu_end = alu_ops_per_s()
    jiffies = [b - a for a, b in zip(jiffies_start, cpu_jiffies())]
    if aborted:  # the phases did not finish: no metric has its full sample set
        metrics, samples = {}, {}
    elif args.trace:
        run_s = sum(s.seconds for s in bench.tracer.spans if s.phase != "warmup")
        metrics, samples = per_layer(bench, (alu_start, alu_end), run_s)
        err = check_counts_repeat(args.workload, args.seed, metrics)
        if err:
            bench.errors[-1] = [err]
            print(f"CHECK FAILED [counters]: {err}", file=sys.stderr)
    else:
        metrics, samples = end_to_end(bench, setup_s, rss)

    detail = {
        "args": vars(args),
        "manifest_digest": manifest["digest"],
        "timed_s": timed_s,
        "host_alu_ops_per_s": [alu_start, alu_end],
        "host_steal_share": jiffies[7] / max(sum(jiffies), 1),
        "cycles": bench.cycles,
        "samples": samples,
        "errors": {str(k): v for k, v in bench.errors.items()},
        "spans": [dataclasses.asdict(s) | {"seconds": s.seconds} for s in bench.tracer.spans],
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, default=str)

    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        raise RuntimeError(f"metrics without samples: {bad}")
    for k, v in metrics.items():
        print(f"{k:34s} {v['value']:>16.6g} {v['unit']:8s} n={samples[k]}")
    failed = len(bench.errors)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
