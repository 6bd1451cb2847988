"""The benchmark's two workloads.

Every workload is a closed loop with one client: the next query pass or
micro-batch starts only after the previous one has completed. A run is

    set-up (session start, input generation, state preload)
    -> one cold operation -> one warm-up operation
    -> warm operations for ``--seconds`` -> correctness checks.

Each workload times its own calls into the program's public functions and
reads Spark's public status APIs; it changes no program code.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

# The registered FK-denormalization queries. denorm_nested has no SQL oracle
# of its own; it is checked through denorm_nested_struct.
DENORM_QUERIES = [
    "denorm_inner",
    "denorm_left_outer",
    "denorm_full_outer",
    "denorm_nested",
    "two_hop_denorm",
]
DENORM_CHECKED_AS = {"denorm_nested": "denorm_nested_struct"}
DENORM_ORDERS = 10_000

# Build-bound curation heads: their cold cost is eager build jobs, and
# session memos cut their warm cost. The two other heads of that family
# (conv_turn_near_dedup, conv_near_dedup) would add about 16 s to every cold
# pass on 4 cores, more than the run budget allows.
CURATION_QUERIES = [
    "minhash_lsh_dedup",
    "corpus_pipeline_v4",
    "paired_dedup",
    "fuzzy_contamination",
]
CURATION_DOCS = 60
CURATION_CORPORA = 4  # the seed picks one of these pinned corpora
PINS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "curation_pins.json")

# batch 0 loads every order and every left key (about 16,000); each later
# batch re-upserts or deletes CHANGELOG_LEFT of those keys and re-publishes
# CHANGELOG_RIGHT Zipf-drawn orders
CHANGELOG_ORDERS = 4_000
CHANGELOG_LEFT = 1_500
CHANGELOG_RIGHT = 150
CHANGELOG_BATCHES = 40  # more than any run replays
WAIT_S = 120.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared run logic: subclasses implement generate/preload/op/check."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.data_dir = os.path.join(ctx.work_dir, "data")
        self.problems: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.ops: list[dict] = []

    # set-up ------------------------------------------------------------
    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def preload(self) -> None:
        pass

    # operations ----------------------------------------------------------
    def has_op(self, idx: int) -> bool:
        return True

    def op(self, idx: int) -> dict:
        raise NotImplementedError

    def run_op(self, idx: int) -> dict | None:
        """One closed-loop operation; an exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", op=f"op{idx}"):
                rec = self.op(idx)
        except Exception as e:  # noqa: BLE001 - a failed op is a measurement
            self.failed += 1
            self.problems.append(f"op {idx} raised {type(e).__name__}: {e}")
            return None
        rec["op_s"] = time.perf_counter() - t0
        rec["idx"] = idx
        self.ops.append(rec)
        return rec

    def check(self) -> None:
        pass

    def stop(self) -> None:
        pass

    # reporting -------------------------------------------------------------
    def layer_metrics(self, cold: dict, warm: list[dict]) -> dict:
        return {}


class Batch(Workload):
    """One pass runs the curation heads in a fixed order, then the
    FK-denormalization queries in an order the seed sets per pass. Each
    query is built through its ``QUERIES`` builder, planned by forcing
    ``executedPlan()`` and materialized."""

    queries = CURATION_QUERIES + DENORM_QUERIES
    tables = ["customer", "orders", "lineitem", "documents"]

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from kafka_denormalization_spark.queries import QUERIES

        self.builders = QUERIES
        self.last_frames: dict = {}
        self.fingerprints: dict[str, set] = {name: set() for name in CURATION_QUERIES}

    def corpus(self) -> int:
        return self.ctx.seed % CURATION_CORPORA

    def generate(self, out_dir: str) -> None:
        tables = gen.tpch_tables(self.ctx.seed, DENORM_ORDERS)
        tables["documents"] = gen.documents(self.corpus(), CURATION_DOCS)
        gen.write_tables(tables, out_dir)

    def order(self, idx: int) -> list[str]:
        rng = np.random.default_rng([self.ctx.seed, idx])
        return CURATION_QUERIES + [DENORM_QUERIES[i] for i in rng.permutation(len(DENORM_QUERIES))]

    def materialize(self, name: str, df):
        """Denormalizations go to the noop sink; the small curation results
        are collected so every pass's output can be fingerprinted."""
        if name not in self.fingerprints:
            df.write.format("noop").mode("overwrite").save()
            return None
        pdf = df.toPandas()
        self.fingerprints[name].add(checks.fingerprint(pdf))
        return pdf

    def op(self, idx: int) -> dict:
        from kafka_denormalization_spark.plans.inspect import count_exchanges

        rec = {"q": {}}
        for name in self.order(idx):
            q = {}
            t = time.perf_counter()
            with self.tr.span("queries.build", jobs=True) as s_build:
                df = self.builders[name](self.spark, self.data_dir)
            q["build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with self.tr.span("queries.plan", jobs=True) as s_plan:
                df._jdf.queryExecution().executedPlan()
            q["plan_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with self.tr.span("queries.exec", jobs=True) as s_exec:
                self.materialize(name, df)
            q["exec_s"] = time.perf_counter() - t
            if self.tr.enabled:
                q["exchanges"] = count_exchanges(df)
                for key, span in (("build", s_build), ("plan", s_plan), ("exec", s_exec)):
                    for c, v in span.counts.items():
                        q[f"{key}_{c}"] = v
            rec["q"][name] = q
            self.last_frames[name] = df
        return rec

    def check(self) -> None:
        oc = checks.load_oracle_check(self.ctx.repo_root)
        from kafka_denormalization_spark.queries import ORACLE_SQL

        con = checks.duck_views(self.data_dir, self.tables)
        for name in DENORM_QUERIES:
            checked = DENORM_CHECKED_AS.get(name, name)
            if checked == name:
                df = self.last_frames[name]
            else:
                df = self.builders[checked](self.spark, self.data_dir)
            problems = oc.compare(checked, df.toPandas(), con.sql(ORACLE_SQL[checked]).df())
            if problems:
                self.failed += 1
                self.problems.append(f"{checked}: " + "; ".join(problems))
        # cold == warm == pinned for every curation head
        with open(PINS_FILE) as f:
            pins = json.load(f)[str(self.corpus())]
        for name, seen in self.fingerprints.items():
            if seen != {pins[name]}:
                self.failed += 1
                self.problems.append(f"{name}: fingerprints {sorted(seen)} != pinned {pins[name]}")

    def layer_metrics(self, cold: dict, warm: list[dict]) -> dict:
        m = {}

        def per_op(rec, field):
            return sum(q.get(field, 0) for q in rec["q"].values())

        for field in ("build_s", "plan_s", "exec_s"):
            m[f"queries.{field}"] = _median([per_op(r, field) for r in warm])
            m[f"queries.cold_{field}"] = per_op(cold, field)
        for c in ("jobs", "stages", "tasks"):
            for phase in ("build", "exec"):
                m[f"queries.{phase}_{c}"] = _median([per_op(r, f"{phase}_{c}") for r in warm])
            m[f"queries.cold_build_{c}"] = per_op(cold, f"build_{c}")
        # curation plans print their memoized lineage, whose exchanges do not
        # run again, so only the denormalization plans are counted
        m["queries.exchanges"] = _median(
            [sum(r["q"][n].get("exchanges", 0) for n in DENORM_QUERIES) for r in warm]
        )
        for field in ("shuffle_write_bytes", "spill_bytes"):
            m[f"queries.{field}"] = _median(
                [sum(per_op(r, f"{phase}_{field}") for phase in ("build", "plan", "exec")) for r in warm]
            )
        cold_jobs = m["queries.cold_build_jobs"]
        m["checkpoint.memo_reuse_ratio"] = (
            1.0 - m["queries.build_jobs"] / cold_jobs if cold_jobs else 0.0
        )
        for name in self.queries:
            for field in ("build_s", "exec_s"):
                m[f"queries.{name}.{field}"] = _median([r["q"][name][field] for r in warm])
            m[f"queries.{name}.cold_build_s"] = cold["q"][name]["build_s"]
        return m


class Changelog(Workload):
    """The same micro-batch files replayed through IncrementalDenormalize
    (one ``process_batch`` per file) and ``upsert_join`` (a file-source
    stream, ``maxFilesPerTrigger=1``, into a ``foreachBatch`` sink)."""

    def generate(self, out_dir: str) -> None:
        batches = gen.changelog(
            self.ctx.seed, CHANGELOG_ORDERS, CHANGELOG_BATCHES, CHANGELOG_LEFT, CHANGELOG_RIGHT
        )
        gen.write_batches(batches, os.path.join(out_dir, "log"))

    def preload(self) -> None:
        from pyspark.sql import functions as F

        from kafka_denormalization_spark.streaming.incremental import IncrementalDenormalize
        from kafka_denormalization_spark.streaming.upsert_join import UPDATE_SCHEMA, upsert_join

        self.F = F
        w = self.ctx.work_dir
        self.log_dir = os.path.join(self.data_dir, "log")
        self.files = sorted(os.listdir(self.log_dir))
        self.inc_state = os.path.join(w, "inc_state")
        self.inc_emit = os.path.join(w, "inc_emit")
        self.cont_emit = os.path.join(w, "cont_emit")
        self.src = os.path.join(w, "stream_src")
        os.makedirs(self.src)
        self.inc = IncrementalDenormalize(self.spark, self.inc_state, how="inner")
        self.sink_seen: list[int] = []
        self.sink_s: dict[int, float] = {}

        def sink(batch_df, epoch_id):
            t = time.perf_counter()
            batch_df.write.mode("overwrite").parquet(os.path.join(self.cont_emit, f"{epoch_id:05d}"))
            self.sink_s[epoch_id] = time.perf_counter() - t
            self.sink_seen.append(epoch_id)

        stream = (
            self.spark.readStream.schema(UPDATE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            upsert_join(stream, how="inner")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(w, "cont_ckpt"))
            .start()
        )
        self.progress: dict[int, dict] = {}
        self.replayed = 0

    def op(self, i: int) -> dict:
        """Batch ``i`` through both engines; op 0 is the initial load."""
        F = self.F
        path = os.path.join(self.log_dir, self.files[i])
        rec = {"updates": pq.read_metadata(path).num_rows}
        df = self.spark.read.parquet(path)
        lu = df.filter(F.col("side") == "left").select("key", "fk", "payload", F.col("seq").alias("version"))
        ru = df.filter(F.col("side") == "right").select("key", "fk", "payload", F.col("seq").alias("version"))
        t = time.perf_counter()
        with self.tr.span("incremental.process", jobs=True) as sp:
            out = self.inc.process_batch(lu, ru)
        rec["inc_process_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tr.span("incremental.emit", jobs=True) as se:
            out.write.parquet(os.path.join(self.inc_emit, f"{i:05d}"))
        rec["inc_emit_s"] = time.perf_counter() - t
        rec["inc_s"] = rec["inc_process_s"] + rec["inc_emit_s"]
        if self.tr.enabled:
            for c in ("jobs", "stages", "tasks"):
                rec[f"inc_{c}"] = sp.counts.get(c, 0) + se.counts.get(c, 0)

        t = time.perf_counter()
        with self.tr.span("upsert_join.trigger"):
            # the stream lists its directory while the file is written;
            # a hidden name (which the file index skips) keeps it from
            # reading a partial file
            hidden = os.path.join(self.src, "." + self.files[i])
            shutil.copy(path, hidden)
            os.replace(hidden, os.path.join(self.src, self.files[i]))
            deadline = t + WAIT_S
            while len(self.sink_seen) <= i:
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"continuous engine did not finish batch {i}")
                self.query.processAllAvailable()
        rec["cont_s"] = time.perf_counter() - t
        for p in self.query.recentProgress:
            self.progress[p["batchId"]] = p
        rec["sink_s"] = self.sink_s.get(i, 0.0)
        self.replayed = i + 1
        return rec

    def has_op(self, idx: int) -> bool:
        return idx < len(self.files)

    def stop(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()

    def _emitted(self, root: str, names: list[str]):
        for name in names:
            path = os.path.join(root, name)
            if not os.path.isdir(path):
                yield []
                continue
            tbl = pq.read_table(path, columns=["key", "fk", "left_value", "right_value"])
            yield list(zip(*[tbl.column(c).to_pylist() for c in tbl.column_names]))

    def check(self) -> None:
        self.stop()
        n = self.replayed
        log_rows = []
        for f in self.files[:n]:
            tbl = pq.read_table(os.path.join(self.log_dir, f))
            log_rows.extend(zip(*[tbl.column(c).to_pylist() for c in ("seq", "side", "key", "fk", "payload")]))
        want = checks.golden(log_rows)
        names = [f"{i:05d}" for i in range(n)]
        for engine, root in (("incremental", self.inc_emit), ("continuous", self.cont_emit)):
            got, problems = checks.fold(self._emitted(root, names))
            problems += checks.diff_fold(got, want)
            if problems:
                self.failed += 1
                self.problems.append(f"{engine}: " + "; ".join(problems))

    def layer_metrics(self, cold: dict, warm: list[dict]) -> dict:
        inc, cont = "streaming.incremental.", "streaming.upsert_join."
        upd = sum(r["updates"] for r in warm)
        m = {
            inc + "batch_s": _median([r["inc_s"] for r in warm]),
            inc + "process_s": _median([r["inc_process_s"] for r in warm]),
            inc + "emit_s": _median([r["inc_emit_s"] for r in warm]),
            inc + "updates_per_s": upd / sum(r["inc_s"] for r in warm),
            cont + "batch_s": _median([r["cont_s"] for r in warm]),
            cont + "updates_per_s": upd / sum(r["cont_s"] for r in warm),
            cont + "sink_s": _median([r["sink_s"] for r in warm]),
        }
        for c in ("jobs", "stages", "tasks"):
            m[inc + f"{c}_per_batch"] = _median([r.get(f"inc_{c}", 0) for r in warm])
        idxs = [r["idx"] for r in warm]
        m[inc + "emit_per_update"] = _parquet_rows(self.inc_emit, idxs) / upd
        m[cont + "emit_per_update"] = _parquet_rows(self.cont_emit, idxs) / upd
        size = files = 0
        for dirpath, _dirs, fnames in os.walk(self.inc_state):
            for f in fnames:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        m[inc + "state_bytes"] = size
        m[inc + "state_files"] = files
        prog = [self.progress[i] for i in idxs if i in self.progress]
        for name, key in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                          ("wal_commit_ms", "walCommit")):
            m[cont + name] = _median([p["durationMs"].get(key, 0) for p in prog])
        ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        last = ops[-1] if ops else {}
        m[cont + "state_rows_total"] = last.get("numRowsTotal", 0)
        m[cont + "state_memory_bytes"] = last.get("memoryUsedBytes", 0)
        m[cont + "state_update_ms"] = _median([o.get("allUpdatesTimeMs", 0) for o in ops])
        m[cont + "state_commit_ms"] = _median([o.get("commitTimeMs", 0) for o in ops])
        return m


def _parquet_rows(root: str, idxs: list[int]) -> int:
    """Rows written under ``root/<batch>/`` for the given batches."""
    total = 0
    for i in idxs:
        d = os.path.join(root, f"{i:05d}")
        if os.path.isdir(d):
            total += sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return total


WORKLOADS = {"batch": Batch, "changelog": Changelog}
