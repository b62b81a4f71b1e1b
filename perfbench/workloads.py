"""The workloads. Each one generates its inputs (`generate`, not part of
set-up time), sets up through the program (`prepare`, repeated and timed as
`setup_s`), warms up once untimed (`warm_up`), runs operations until the
deadline (`run`), checks every
operation against an oracle, and in the traced mode replays a unit of work
with every layer call in its own span (`trace`).

Every call into the program goes through its public functions:
`session.get_spark`, `sources.tables.read_source`,
`filters.mongo_filter_to_column`, `functions.masks`, `operators.split`,
`operators.copy.run_migration`, `operators.compare.compare_migration`,
`streaming.cdc.*` and `pipeline.run_pipeline`.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import inputs
import oracles

CDC_NS = inputs.NS


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Below eleven samples no percentile has ten beyond it; then the
    upper quartile (interpolated) stands in, and the label says so."""
    s = sorted(xs)
    n = len(s)
    if n >= 11:
        return s[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"
    if n == 1:
        return s[0], "the only operation (1 ran)"
    return (statistics.quantiles(s, n=4, method="inclusive")[2],
            f"p75 of {n} (fewer than 11)")


def time_for_another(done: list[float], deadline: float) -> bool:
    """Whether one more operation, as long as the mean so far, would end
    nearer the deadline than stopping now: a run measures whole operations,
    about --seconds."""
    mean = sum(done) / len(done) if done else 0.0
    return time.perf_counter() + mean / 2 <= deadline


class Ops:
    """One run's operations: how many were attempted and failed (each
    namespace copied, each compare, micro-batch and pipeline), latency
    samples of the workload's request unit (a migration, a micro-batch), and
    the work done per second by each unit of work (a migration, a stream)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lat: list[float] = []
        self.rates: list[float] = []

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def _file_set(path: str) -> dict[str, int]:
    """Size of every parquet data file under `path`, by path."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- full_load ------------------------------------------------------------------

FULL_LOAD_INCLUDES = [
    {"namespace": "db.customers", "masks": ["ssn", "subdoc.email"],
     "method": "partial"},
    {"namespace": "db.orders",
     "filter": {"status": {"$in": ["A", "B"]}, "amount": {"$gte": 250}},
     "sql_where": "status IN ('A', 'B') AND amount >= 250"},
    {"namespace": "db.events", "to": "db.events_v2"},
]


class _NsSpans:
    """`run_migration` progress tracker that opens one span per namespace
    copied (`copy.<collection>`)."""

    def __init__(self, tracer):
        self.tracer = tracer
        self._open = None

    def add(self, *names):
        pass

    def start(self, ns):
        self._open = self.tracer.open("copy." + ns.split(".", 1)[1])

    def complete(self, ns, rows):
        self.tracer.close(self._open)

    def fail(self, ns):
        self.tracer.close(self._open)


# --- aggregation reads ------------------------------------------------------------------

def pipeline_for(kind: str, p: dict) -> tuple[str, list, bool]:
    """(collection, stages, ordered) of one pipeline of the mix. `ordered`
    says whether the output order is part of the answer."""
    if kind == "rollup":
        return "orders", [
            {"$match": {"status": {"$in": p["statuses"]}}},
            {"$group": {"_id": "$status", "total": {"$sum": "$amount"},
                        "n": {"$sum": 1}, "avg_price": {"$avg": "$price"}}},
        ], False
    if kind == "range":
        return "orders", [
            {"$match": {"amount": {"$gte": p["lo"], "$lt": p["hi"]}}},
            {"$sort": {"amount": -1, "_id": 1}},
            {"$limit": p["limit"]},
            {"$project": {"_id": 1, "amount": 1, "price": 1}},
        ], True
    if kind == "lookup":
        return "orders", [
            {"$match": {"amount": {"$gte": p["min_amount"]}}},
            {"$lookup": {"from": "customers", "localField": "cust_id",
                         "foreignField": "_id", "as": "cust"}},
            {"$unwind": "$cust"},
            {"$group": {"_id": "$cust.status", "n": {"$sum": 1},
                        "total": {"$sum": "$amount"}}},
        ], False
    if kind == "facet":
        return "events", [
            {"$match": {"subdoc.depth": p["depth"]}},
            {"$facet": {
                "by_kind": [{"$group": {"_id": "$kind", "n": {"$sum": 1},
                                        "total": {"$sum": "$value"}}}],
                "top": [{"$sort": {"value": -1, "_id": 1}},
                        {"$limit": 3},
                        {"$project": {"_id": 1, "value": 1}}],
            }},
        ], False
    if kind == "window":
        return "orders", [
            {"$match": {"qty": p["qty"], "subdoc.channel": p["channel"]}},
            {"$setWindowFields": {
                "partitionBy": "$status",
                "sortBy": {"amount": 1, "_id": 1},
                "output": {"running": {
                    "$sum": "$amount",
                    "window": {"documents": ["unbounded", "current"]}}}}},
            {"$project": {"_id": 1, "amount": 1, "running": 1}},
        ], False
    if kind == "project":
        return "orders", [
            {"$match": {"subdoc.city": p["city"], "qty": p["qty"]}},
            {"$project": {
                "_id": 1,
                "total": {"$multiply": ["$price", "$qty"]},
                "big": {"$gt": ["$amount", p["big"]]},
                "label": {"$concat": ["$status", "-",
                                      {"$toString": "$qty"}]}}},
        ], False
    raise ValueError(kind)


AGG_KINDS = ["rollup", "range", "lookup", "facet", "window", "project"]


def _spark_rows(kind: str, rows) -> list[tuple]:
    """Pipeline output rows as plain tuples in the oracle's column order."""
    if kind == "facet":
        r = rows[0]
        return ([("k", x["_id"], x["n"], x["total"]) for x in r["by_kind"]]
                + [("t", x["_id"], x["value"]) for x in r["top"]])
    return [tuple(r) for r in rows]


class PipelineReads:
    """A seeded sequence of aggregation pipelines sent one at a time (a
    closed loop with one client) through `pipeline.run_pipeline`, each
    answer checked against DuckDB over the same parquet files. The sequence
    is made of rounds, each round the six kinds in a seeded order with fresh
    parameters, so every pipeline is new to the session (as a client's
    parameters are) and every round covers every kind once."""

    rounds = 64  # far more than a run sends

    def __init__(self, seed: int, con):
        rng = inputs.rng_for(seed, "agg")
        self.mix = [q for _ in range(self.rounds) for q in self._round(rng)]
        self.warm = self._round(inputs.rng_for(seed, "agg-warm"))
        self.con = con
        self.next = 0  # index of the next unsent round
        self.lat: dict[str, list[float]] = {k: [] for k in AGG_KINDS}

    @staticmethod
    def _round(rng) -> list[tuple[str, dict]]:
        out = []
        for kind in rng.permutation(AGG_KINDS):
            lo = int(rng.integers(250, 900))
            out.append((str(kind), {
                "statuses": sorted(rng.choice(["A", "B", "C"], 2,
                                              replace=False).tolist()),
                "lo": lo, "hi": lo + int(rng.integers(20, 100)),
                "limit": int(rng.integers(5, 30)),
                "min_amount": int(rng.integers(500, 990)),
                "depth": int(rng.integers(0, 10)),
                "qty": int(rng.integers(1, 20)),
                "channel": str(rng.choice(inputs.CHANNELS)),
                "city": str(rng.choice(inputs.CITIES)),
                "big": int(rng.integers(100, 900)),
            }))
        return out

    def next_round(self) -> list[tuple[str, dict]]:
        i = self.next
        self.next += 1
        return self.mix[i * len(AGG_KINDS):(i + 1) * len(AGG_KINDS)]

    def expected(self, kind: str, p: dict, paths: dict) -> list[tuple]:
        _, _, ordered = pipeline_for(kind, p)
        rows = self.con.execute(oracles.agg_sql(kind, p, paths)).fetchall()
        if kind == "facet":
            rows = [("k",) + r for r in rows] + [("t",) + r for r in (
                self.con.execute(oracles.facet_top_sql(p, paths))
                .fetchall())]
        return oracles.canonical(rows, ordered)

    def query(self, b, tables: dict, paths: dict, kind: str, p: dict,
              tracer=None) -> tuple[bool, float]:
        """Send one pipeline; returns (answer matches DuckDB, seconds)."""
        from hummingbird_spark.pipeline import run_pipeline

        coll, stages, ordered = pipeline_for(kind, p)
        t0 = time.perf_counter()
        with b.maybe_span(tracer, "pipeline.translate"):
            out = run_pipeline(b.spark, tables[coll], stages, tables=tables)
        if tracer is not None:
            with tracer.span("pipeline.plan"):
                out._jdf.queryExecution().executedPlan()
        with b.maybe_span(tracer, "pipeline.exec"):
            rows = out.collect()
        dt = time.perf_counter() - t0
        got = oracles.canonical(_spark_rows(kind, rows), ordered)
        return got == self.expected(kind, p, paths), dt

    def run_round(self, b, paths: dict, round_, ops: Ops | None = None,
                  tracer=None) -> float:
        """Read the collections at `paths` and send one round. Returns the
        round's time, not counting the DuckDB checks; each pipeline counts
        as one operation in `ops`."""
        from hummingbird_spark.sources.tables import read_source

        t0 = time.perf_counter()
        with b.maybe_span(tracer, "sources.tables"):
            tables = {n: read_source(b.spark, p) for n, p in paths.items()}
        busy = time.perf_counter() - t0
        for kind, p in round_:
            try:
                ok, dt = self.query(b, tables, paths, kind, p, tracer)
                self.lat[kind].append(dt)
                busy += dt
            except Exception as e:  # noqa: BLE001 -- a failure
                b.log(f"pipeline {kind}: {e!r}")
                ok = False
            if ops is not None:
                ops.count(ok)
            elif not ok:
                raise RuntimeError(f"pipeline {kind} differs from DuckDB")
        return busy


class FullLoad:
    """A migration of three collections: `run_migration` copies them (one
    masked, one filtered, one renamed), `compare_migration` validates the
    target, and a round of aggregation pipelines reads the target back."""

    name = "full_load"
    docs = 2_000
    tiny = {"docs": 500}

    def generate(self, b):
        self.src_root = os.path.join(b.work, "src")
        self.src = inputs.write_collections(b.seed, self.docs, self.src_root)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.expected = oracles.expected_full_load(
            self.con, self.src, FULL_LOAD_INCLUDES)
        self.source_bytes = sum(sum(_file_set(p).values())
                                for p in self.src.values())
        self.reads = PipelineReads(b.seed, self.con)

    @staticmethod
    def _cfg(src, dst):
        from hummingbird_spark.config import MigrationConfig

        return MigrationConfig.from_dict({
            "command": "data", "source": src, "target": dst, "drop": True,
            "includes": [{k: v for k, v in inc.items() if k != "sql_where"}
                         for inc in FULL_LOAD_INCLUDES]})

    @staticmethod
    def _target_paths(dst: str) -> dict[str, str]:
        """Pipeline collection name -> migrated target table."""
        return {inc["namespace"].split(".", 1)[1]: os.path.join(
                    dst, (inc.get("to") or inc["namespace"]).split(".", 1)[1]
                    + ".parquet")
                for inc in FULL_LOAD_INCLUDES}

    def prepare(self, b):
        """Nothing to seed: the migration's set-up is the session."""

    def warm_up(self, b):
        """A migration of the same collections and a round of reads."""
        from hummingbird_spark.operators.compare import compare_migration
        from hummingbird_spark.operators.copy import run_migration

        dst = os.path.join(b.work, "warm_dst")
        cfg = self._cfg(self.src_root, dst)
        run_migration(b.spark, cfg)
        compare_migration(b.spark, cfg)
        self.reads.run_round(b, self._target_paths(dst), self.reads.warm)

    def _check_copy(self, dst):
        """Mismatching rows per copied collection, from DuckDB."""
        out = {}
        for coll, tgt in self._target_paths(dst).items():
            inc = next(i for i in FULL_LOAD_INCLUDES
                       if i["namespace"] == "db." + coll)
            if inc.get("masks"):
                out[coll] = oracles.masked_mismatches(
                    self.con, self.src[coll], tgt)
            else:
                out[coll] = oracles.copy_mismatches(
                    self.con, self.src[coll], tgt,
                    inc.get("sql_where", "TRUE"))
        return out

    def cycle(self, b, ops: Ops, tracer=None):
        """One migration: run_migration, compare_migration and a round of
        reads, each checked. Returns (copy_s, compare_s, read_s, written,
        compared), or None when a step raised."""
        from hummingbird_spark.operators.compare import compare_migration
        from hummingbird_spark.operators.copy import run_migration

        dst = os.path.join(b.work, "dst")
        cfg = self._cfg(self.src_root, dst)
        spans = _NsSpans(tracer) if tracer is not None else None
        t0 = time.perf_counter()
        try:
            with b.maybe_span(tracer, "operators.copy"):
                report = run_migration(b.spark, cfg, tracker=spans)
            copy_s = time.perf_counter() - t0
            bad = self._check_copy(dst)
            for r in report.results:
                coll = r.namespace.split(".", 1)[1]
                ops.count(r.rows_copied == self.expected[coll]
                          and bad[coll] == 0)
            written = report.total_rows
        except Exception as e:  # noqa: BLE001 -- an exception is a failure
            b.log(f"run_migration failed: {e!r}")
            ops.count(False)
            return None
        t1 = time.perf_counter()
        try:
            with b.maybe_span(tracer, "operators.compare"):
                results = compare_migration(b.spark, cfg)
            compare_s = time.perf_counter() - t1
            ops.count(len(results) == 3 and all(
                r.equal and r.source_count ==
                self.expected[r.namespace.split(".", 1)[1]]
                for r in results))
            compared = sum(r.source_count + r.target_count for r in results)
        except Exception as e:  # noqa: BLE001
            b.log(f"compare_migration failed: {e!r}")
            ops.count(False)
            return None
        read_s = self.reads.run_round(b, self._target_paths(dst),
                                      self.reads.next_round(), ops, tracer)
        return copy_s, compare_s, read_s, written, compared

    def run(self, b, deadline: float) -> Ops:
        ops = Ops()
        self.copy_s = self.compare_s = self.read_s = 0.0
        self.written = self.compared = 0
        while True:
            got = self.cycle(b, ops)
            if got:
                c, v, r, w, n = got
                b.log(f"cycle: copy {c:.2f} s, compare {v:.2f} s, "
                      f"reads {r:.2f} s")
                self.copy_s += c
                self.compare_s += v
                self.read_s += r
                self.written += w
                self.compared += n
                ops.lat.append(c + v + r)
                ops.rates.append(w / (c + v + r))
            if not got or not time_for_another(ops.lat, deadline):
                break
        self.cycles = list(ops.lat)
        out = _file_set(os.path.join(b.work, "dst"))
        self.out_bytes, self.out_files = sum(out.values()), len(out)
        self.target_ratio = self.out_bytes / self.source_bytes
        return ops

    def untraced_unit_s(self) -> float:
        return statistics.median(self.cycles)

    def report(self) -> dict:
        lat = [x for v in self.reads.lat.values() for x in v]
        agg_tail, label = tail(lat)
        return {
            "copy_docs_per_s": (self.written / self.copy_s, "1/s"),
            "validate_docs_per_s": (self.compared / self.compare_s, "1/s"),
            "target_bytes_per_source_byte": (self.target_ratio, "ratio"),
            "agg_pipelines_per_s": (len(lat) / self.read_s, "1/s"),
            "agg_p50_s": (statistics.median(lat), "s"),
            f"agg_tail_s ({label})": (agg_tail, "s"),
        }

    def trace(self, b, tracer, layer: dict) -> float:
        """One traced migration plus forced per-layer probes. Returns the
        traced cycle's wall time."""
        from pyspark.sql import functions as F

        from hummingbird_spark.filters import mongo_filter_to_column
        from hummingbird_spark.operators.copy import transform_for_include
        from hummingbird_spark.operators.split import partition_for_copy
        from hummingbird_spark.sources.tables import read_source

        for k, v in self.reads.lat.items():
            layer[f"pipeline.{k}.p50_s"] = statistics.median(v)
        ops = Ops()
        t0 = time.perf_counter()
        got = self.cycle(b, ops, tracer)
        traced_s = time.perf_counter() - t0
        if not got or ops.failed:
            raise RuntimeError("traced full_load cycle failed its check")
        layer["pipeline.translate_s"] = tracer.seconds("pipeline.translate")
        layer["pipeline.plan_s"] = tracer.seconds("pipeline.plan")
        layer["pipeline.exec_s"] = tracer.seconds("pipeline.exec")
        cfg = self._cfg(self.src_root, os.path.join(b.work, "dst"))
        parts, skews = 0, []
        for inc in cfg.includes:
            coll = inc.namespace.split(".", 1)[1]
            with tracer.span("sources.tables"):
                src = read_source(b.spark, self.src[coll])
            with tracer.span("filters"):
                mongo_filter_to_column(inc.filter)
            df = transform_for_include(src, inc)
            if inc.masks:
                base = transform_for_include(src, type(inc)(
                    namespace=inc.namespace, filter=inc.filter))
                masked, plain = [], []
                for _ in range(3):
                    with tracer.span("masks.masked") as s:
                        _noop_write(df)
                    masked.append(s.seconds)
                    with tracer.span("masks.plain") as s:
                        _noop_write(base)
                    plain.append(s.seconds)
                layer["masks.overhead_s"] = (
                    statistics.median(masked) - statistics.median(plain))
            with tracer.span("operators.split"):
                split = partition_for_copy(df, cfg.key, block=cfg.block)
                _noop_write(split)
            parts += split.rdd.getNumPartitions()
            sizes = [r[1] for r in split.groupBy(
                F.spark_partition_id()).count().collect()]
            skews.append(max(sizes) / statistics.median(sizes))
        layer["split.partitions"] = parts
        layer["split.max_over_median_rows"] = max(skews)
        layer["split.s"] = tracer.seconds("operators.split")
        layer["filters.translate_s"] = tracer.seconds("filters")
        layer["sources.read_s"] = tracer.seconds("sources.tables")
        for inc in cfg.includes:
            coll = inc.namespace.split(".", 1)[1]
            layer[f"copy.{coll}_s"] = tracer.seconds(f"copy.{coll}")
        layer["copy.output_bytes"] = self.out_bytes
        layer["copy.output_files"] = self.out_files
        layer["copy.target_bytes_per_source_byte"] = self.target_ratio
        return traced_s

    def trace_from_log(self, tracer, log, layer: dict) -> None:
        split = log.totals(tracer.groups_of("operators.split"))
        layer["split.shuffle_write_bytes"] = split.shuffle_write
        cmp = log.totals(tracer.groups_of("operators.compare"))
        layer["compare.count_s"] = cmp.exec_ms.get("other", 0.0) / 1000
        layer["compare.except_s"] = cmp.exec_ms.get("except", 0.0) / 1000
        layer["compare.jobs"] = cmp.jobs
        layer["compare.shuffle_bytes"] = cmp.shuffle_write


# --- CDC --------------------------------------------------------------------------

def cdc_schema():
    from pyspark.sql import types as T

    spark_type = {str: T.StringType(), int: T.LongType(),
                  float: T.DoubleType()}
    return T.StructType([T.StructField(n, spark_type[t])
                         for n, t in inputs.CDC_FIELDS])


def read_target_rows(path: str) -> dict[str, dict]:
    """The CDC target as {key: row}, read file by file with pyarrow (not
    Spark); hive `__bucket=` directories are layout, not data."""
    names = [n for n, _ in inputs.CDC_FIELDS]
    out = {}
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        t = pq.read_table(p)
        missing = [n for n in names if n not in t.column_names]
        for r in t.to_pylist():
            r.update(dict.fromkeys(missing))
            out[r["_id"]] = {n: r[n] for n in names}
    return out


class _Cdc:
    """Shared shape of the two CDC workloads: a seeded target, a backlog,
    and timed `start_cdc_stream` runs that each start from a fresh copy of
    the seeded target and a fresh checkpoint."""

    num_buckets: int | None = None  # None: the default flat sink

    def make_inputs(self, seed, n_events):  # -> (seed_keys, _OplogWriter)
        raise NotImplementedError

    def generate(self, b):
        self.dir = os.path.join(b.work, self.name)
        warm = 10 * self.per_file  # one micro-batch of mixed events
        keys, backlog = self.make_inputs(b.seed, warm + self.n_events)
        seeder = inputs.seed_oplog(b.seed, keys, self.name + "-seed")
        # the seeding stream is one micro-batch of ten files of inserts that
        # create the target; the warm-up applies one micro-batch of mixed
        # events like the backlog's to a copy of it, so that the decode,
        # fold and merge plans are warm before timing
        self.seed_files = inputs.write_events(
            seeder.events, os.path.join(self.dir, "seed_oplog"),
            -(-len(keys) // 10), "seed")
        self.warm_files = inputs.write_events(
            backlog.events[:warm], os.path.join(self.dir, "warm_oplog"),
            self.per_file, "warm")
        timed = backlog.events[warm:]
        self.files = inputs.write_events(
            timed, os.path.join(self.dir, "oplog"), self.per_file, "op")
        self.events = len(timed)
        fields = [n for n, _ in inputs.CDC_FIELDS]

        def fold(events):
            oracle = oracles.OplogOracle(fields)
            oracle.apply_events(seeder.events + events)
            return oracle.state

        self.seeded_state = fold([])
        self.warm_state = fold(backlog.events[:warm])
        self.expected = fold(timed)

    def _stream(self, b, oplog_dir, root, on_stats=None):
        from hummingbird_spark.streaming.cdc import start_cdc_stream

        q = start_cdc_stream(
            b.spark, oplog_dir, root, {CDC_NS: cdc_schema()},
            includes=[CDC_NS], checkpoint=os.path.join(root, "_ckpt"),
            num_buckets=self.num_buckets, on_stats=on_stats)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def prepare(self, b):
        """Seed the target through start_cdc_stream and check it against the
        oracle."""
        self.seeded = os.path.join(self.dir, "seeded")
        shutil.rmtree(self.seeded, ignore_errors=True)
        self._stream(b, os.path.dirname(self.seed_files[0]), self.seeded)
        got = read_target_rows(os.path.join(self.seeded, "items.parquet"))
        if oracles.diff_states(self.seeded_state, got):
            raise RuntimeError("seeded target differs from the oracle")

    def warm_up(self, b):
        """Apply the warm-up batch to a copy of the seeded target, checked
        against the oracle."""
        root = os.path.join(self.dir, "warm")
        self._copy_seeded(root)
        self._stream(b, os.path.dirname(self.warm_files[0]), root)
        got = read_target_rows(os.path.join(root, "items.parquet"))
        if oracles.diff_states(self.warm_state, got):
            raise RuntimeError("warm-up target differs from the oracle")
        shutil.rmtree(root, ignore_errors=True)

    def _copy_seeded(self, root):
        os.makedirs(root)
        shutil.copytree(os.path.join(self.seeded, "items.parquet"),
                        os.path.join(root, "items.parquet"))

    def one_stream(self, b, ops: Ops, i: int):
        """A timed stream over the whole backlog, checked against the oracle.
        Returns (wall_s, progress of the batches that read input)."""
        root = os.path.join(self.dir, f"run_{i}")
        self._copy_seeded(root)
        target = os.path.join(root, "items.parquet")
        seen = _file_set(target)
        written = [0]

        def on_stats(ns, batch_id, stats):
            now = _file_set(target)
            written[0] += sum(v for k, v in now.items() if k not in seen)
            seen.clear()
            seen.update(now)

        t0 = time.perf_counter()
        try:
            q = self._stream(b, os.path.dirname(self.files[0]), root,
                             on_stats)
        except Exception as e:  # noqa: BLE001 -- an exception is a failure
            b.log(f"stream failed: {e!r}")
            ops.count(False)
            return None
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        batches = [p["durationMs"]["triggerExecution"] / 1000
                   for p in progress]
        b.log(f"stream {i}: {wall:.2f} s, batches " + " ".join(
            f"{x:.2f}" for x in batches))
        got = read_target_rows(target)
        bad = oracles.diff_states(self.expected, got)
        for k in bad[:3]:
            b.log(f"stream {i}: key {k} expected {self.expected.get(k)} "
                  f"got {got.get(k)}")
        if bad:
            b.log(f"stream {i}: {len(bad)} keys differ from the oracle")
        for s in batches:
            ops.count(not bad)
            ops.lat.append(s)
        shutil.rmtree(root, ignore_errors=True)
        self.written_bytes += written[0]
        return wall, progress

    def run(self, b, deadline: float) -> Ops:
        ops = Ops()
        self.written_bytes = 0
        self.walls, self.progress = [], []
        i = 0
        while True:
            got = self.one_stream(b, ops, i)
            i += 1
            if got:
                wall, progress = got
                self.walls.append(wall)
                self.progress.extend(progress)
                ops.rates.append(self.events / wall)
            if not got or not time_for_another(self.walls, deadline):
                break
        return ops

    def untraced_unit_s(self) -> float:
        return statistics.median(self.walls)

    def report(self) -> dict:
        streams = len(self.walls)
        return {
            "apply_events_per_s": (streams * self.events / sum(self.walls),
                                   "1/s"),
            "write_bytes_per_event": (
                self.written_bytes / (streams * self.events), "B"),
        }

    def _stream_layer(self, layer: dict) -> None:
        p = self.progress
        add = sum(x["durationMs"].get("addBatch", 0) for x in p) / 1000
        trig = sum(x["durationMs"]["triggerExecution"] for x in p) / 1000
        layer["stream.batches"] = len(p)
        layer["stream.source_rows_per_event"] = (
            sum(x["numInputRows"] for x in p)
            / (len(self.walls) * self.events))
        layer["stream.add_batch_s"] = add
        layer["stream.overhead_s"] = trig - add

    def trace(self, b, tracer, layer: dict) -> float:
        """Replay the backlog batch by batch (10 files, as the stream's
        trigger takes them), forcing decode, fold and merge in their own
        spans. Returns the replay's wall time."""
        from hummingbird_spark.sources.tables import read_source
        from hummingbird_spark.streaming.cdc import (
            OPLOG_SCHEMA,
            apply_cdc_batch,
            apply_cdc_batch_bucketed,
            decode_write_models,
            reduce_write_models,
        )
        from pyspark.sql import functions as F

        self._stream_layer(layer)
        root = os.path.join(self.dir, "replay")
        self._copy_seeded(root)
        target = os.path.join(root, "items.parquet")
        schema = cdc_schema()
        keys = ("events_in", "models_out", "reduced_out", "rows_read",
                "rows_written", "bytes_written", "touched")
        n = dict.fromkeys(keys, 0)
        merge = dict.fromkeys(("inserted", "updated", "deleted", "noops"), 0)
        t0 = time.perf_counter()
        for i in range(0, len(self.files), 10):
            chunk = self.files[i:i + 10]
            glob_path = os.path.join(
                os.path.dirname(chunk[0]),
                "{" + ",".join(os.path.basename(p) for p in chunk) + "}")
            with tracer.span("sources.tables"):
                df = read_source(b.spark, glob_path, fmt="json",
                                 schema=OPLOG_SCHEMA)
            n["events_in"] += sum(1 for p in chunk for _ in open(p))
            with tracer.span("decode"):
                models = decode_write_models(df, [CDC_NS]).cache()
                n["models_out"] += models.count()
            with tracer.span("fold"):
                reduced = reduce_write_models(models).cache()
                n["reduced_out"] += reduced.count()
            before = _file_set(target)
            rows_before = self._rows_by_dir(before)
            with tracer.span("merge"):
                ns_models = reduced.filter(F.col("ns") == CDC_NS)
                if self.num_buckets:
                    s = apply_cdc_batch_bucketed(
                        b.spark, ns_models, target, "_id", schema,
                        num_buckets=self.num_buckets)
                else:
                    s = apply_cdc_batch(b.spark, ns_models, target, "_id",
                                        schema)
            after = _file_set(target)
            new = {p: v for p, v in after.items() if p not in before}
            touched = {os.path.dirname(p) for p in new} | {
                os.path.dirname(p) for p in before if p not in after}
            n["touched"] += len(touched)
            n["rows_read"] += sum(v for d, v in rows_before.items()
                                  if d in touched)
            n["rows_written"] += sum(self._rows_by_dir(new).values())
            n["bytes_written"] += sum(new.values())
            for k in merge:
                merge[k] += getattr(s, k)
            models.unpersist()
            reduced.unpersist()
        traced_s = time.perf_counter() - t0
        bad = oracles.diff_states(self.expected, read_target_rows(target))
        if bad:
            raise RuntimeError(f"traced replay: {len(bad)} keys differ")
        shutil.rmtree(root, ignore_errors=True)
        batches = -(-len(self.files) // 10)
        layer["decode.s"] = tracer.seconds("decode")
        layer["decode.events_in"] = n["events_in"]
        layer["decode.models_out"] = n["models_out"]
        layer["fold.s"] = tracer.seconds("fold")
        layer["fold.models_in"] = n["models_out"]
        layer["fold.reduced_out"] = n["reduced_out"]
        layer["fold.events_per_key"] = n["models_out"] / max(
            n["reduced_out"], 1)
        layer["merge.s"] = tracer.seconds("merge")
        layer["merge.target_rows_read"] = n["rows_read"]
        layer["merge.rows_written"] = n["rows_written"]
        layer["merge.bytes_written"] = n["bytes_written"]
        layer["merge.write_bytes_per_event"] = (
            n["bytes_written"] / self.events)
        layer["merge.buckets_touched_ratio"] = (
            n["touched"] / (batches * (self.num_buckets or 1)))
        for k, v in merge.items():
            layer[f"merge.{k}"] = v
        layer["sources.read_s"] = tracer.seconds("sources.tables")
        return traced_s

    @staticmethod
    def _rows_by_dir(files: dict[str, int]) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in files:
            d = os.path.dirname(p)
            out[d] = out.get(d, 0) + pq.read_metadata(p).num_rows
        return out

    def trace_from_log(self, tracer, log, layer: dict) -> None:
        pass


class CdcHotKeys(_Cdc):
    name = "cdc_hot_keys"
    n_keys = 200
    n_events = 1_000
    per_file = 50
    tiny = {"n_keys": 100, "n_events": 500, "per_file": 20}

    def make_inputs(self, seed, n_events):
        return inputs.hot_keys_oplog(seed, self.n_keys, n_events)


class CdcLargeTarget(_Cdc):
    name = "cdc_large_target"
    num_buckets = 64
    n_target = 100_000
    n_events = 1_600
    per_file = 40
    tiny = {"n_target": 5_000, "n_events": 400, "per_file": 10}

    def make_inputs(self, seed, n_events):
        return inputs.large_target_oplog(seed, self.n_target, n_events)


WORKLOADS = {w.name: w for w in (FullLoad, CdcHotKeys, CdcLargeTarget)}
