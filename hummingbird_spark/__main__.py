"""CLI entry points mirroring the reference's command surface
(neutrino.go:45-88: -start | -resume | -worker | -compare | -sim).

    python -m hummingbird_spark start   config.json
    python -m hummingbird_spark resume  config.json
    python -m hummingbird_spark compare config.json
    python -m hummingbird_spark sim     --ops 300 --seconds 10 --out DIR
    python -m hummingbird_spark worker  config.json
    python -m hummingbird_spark version
    python -m hummingbird_spark compact PATH [--target-mb 128]
                                             [--partition-col __bucket]
    python -m hummingbird_spark pipeline stages.json --table orders
                                         --data DIR [--limit 1000]
    python -m hummingbird_spark query   NAME [--data DIR] [--limit N]
    python -m hummingbird_spark query   --list
    python -m hummingbird_spark explain NAME [--data DIR]
                                        [--mode formatted]
    python -m hummingbird_spark sql "SELECT ..." [--data DIR]
                                    [--limit N] [--explain]

`worker` validates the config and exits: the reference's worker joins a
migration by polling the shared task queue (neutrino.go:70-77); in
Spark, executors ARE the workers — scale-out is spark-submit
--num-executors / dynamic allocation (SURVEY §3.2), so there is no
long-lived worker process to start. Kept as a command so reference
scripts don't hard-fail, with the explanation in its output.
Config files use the reference's JSON shape (testdata/quickstart.json)
with source/target as parquet directories.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from hummingbird_spark.config import MigrationConfig
from hummingbird_spark.operators.compare import compare_migration
from hummingbird_spark.operators.copy import run_migration
from hummingbird_spark.session import get_spark


def _cmd_start(args: argparse.Namespace, resume: bool = False) -> int:
    spark = get_spark(app_name="hummingbird_migrate")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = MigrationConfig.from_file(args.config)
    tracker = server = None
    if getattr(args, "port", None) is not None:
        # the reference's monitoring UI (-port 3629, web_server.go:19)
        from hummingbird_spark.web import ProgressTracker, start_web_server

        tracker = ProgressTracker()
        server = start_web_server(tracker, args.port)
        print(f"progress UI: http://localhost:"
              f"{server.server_address[1]}/", file=sys.stderr)
    t0 = time.time()
    try:
        report = run_migration(spark, cfg, resume=resume, tracker=tracker)
    finally:
        if server is not None:
            server.shutdown()
    out = {
        "command": "resume" if resume else "start",
        "tables": [
            {"ns": r.namespace, "to": r.target_namespace,
             "rows": r.rows_copied, "skipped": r.skipped}
            for r in report.results
        ],
        "total_rows": report.total_rows,
        "seconds": round(time.time() - t0, 3),
    }
    print(json.dumps(out))
    return 0


def _cmd_compare(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="hummingbird_compare")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = MigrationConfig.from_file(args.config)
    results = compare_migration(spark, cfg)
    out = {
        "command": "compare",
        "namespaces": [
            {"ns": r.namespace, "source": r.source_count,
             "target": r.target_count,
             "missing_in_target": r.missing_in_target,
             "extra_in_target": r.extra_in_target, "equal": r.equal}
            for r in results
        ],
        "all_equal": all(r.equal for r in results),
    }
    print(json.dumps(out))
    return 0 if out["all_equal"] else 1


def _cmd_sim(args: argparse.Namespace) -> int:
    """G3: run the rate-source workload for a bounded time, spooling
    oplog-frame events to parquet (the simulator's observable output)."""
    from hummingbird_spark.operators.generator import simulate_workload_stream

    spark = get_spark(app_name="hummingbird_sim")
    spark.sparkContext.setLogLevel("ERROR")
    stream = simulate_workload_stream(spark, ops_per_second=args.ops)
    q = (
        stream.writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", f"{args.out}/_checkpoint")
        .trigger(processingTime="1 second")
        .start()
    )
    q.awaitTermination(args.seconds)
    q.stop()
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"command": "sim", "events": n,
                      "seconds": args.seconds, "out": args.out}))
    return 0


def _cmd_pipeline(args: argparse.Namespace) -> int:
    """Run a Mongo aggregation pipeline (JSON file: a list of stages)
    against a parquet table, printing result rows as JSON lines —
    the mongosh `db.coll.aggregate(...)` workflow against the engine.
    $lookup foreign tables resolve against the same --data directory;
    terminal $out/$merge stages write back into it."""
    from hummingbird_spark.pipeline import run_pipeline
    from hummingbird_spark.sources.tables import read_source

    spark = get_spark(app_name="hummingbird_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    with open(args.pipeline) as fh:
        stages = json.load(fh)
    if not isinstance(stages, list):
        print("pipeline file must contain a JSON array of stages",
              file=sys.stderr)
        return 2
    import glob
    import os

    tables = {
        os.path.basename(f).removesuffix(".parquet"): read_source(spark, f)
        for f in glob.glob(os.path.join(args.data, "*.parquet"))
    }
    if args.table not in tables:
        print(f"table {args.table!r} not found under {args.data}",
              file=sys.stderr)
        return 2
    if getattr(args, "explain", False):
        # dry run: translate everything (incl. the $merge frame) but
        # never execute the terminal $out/$merge write
        out = run_pipeline(spark, tables[args.table], stages,
                           tables=tables, data_dir=args.data,
                           dry_run=True)
        out.explain(mode="formatted")
        return 0
    out = run_pipeline(spark, tables[args.table], stages, tables=tables,
                       data_dir=args.data)
    _print_rows(out, args.limit)
    return 0


def _cmd_query(args: argparse.Namespace, explain: bool = False) -> int:
    """Run (or explain) a registered query from the engine's registry —
    `query --list` enumerates names with their one-line docs. The
    explain variant prints the formatted physical plan, the same view
    the plan-quality tests assert on (pushed filters, read schema,
    exchanges, codegen spans)."""
    from hummingbird_spark.plans.queries import QUERIES

    if getattr(args, "list", False):
        for name, spec in sorted(QUERIES.items()):
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t{kind}\t{spec.doc}")
        return 0
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see 'query --list'",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="hummingbird_query")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.name].spark(spark, args.data)
    if explain:
        df.explain(mode=args.mode)
        return 0
    _print_rows(df, args.limit)
    return 0


def _cmd_verify(args: argparse.Namespace) -> int:
    """Run every oracle-backed registry query on Spark AND its DuckDB
    oracle over the same parquet tables, hash-comparing values — the
    user-facing form of the correctness gate. Prints one JSON line per
    query; exits 1 on any mismatch."""
    import hashlib

    import duckdb

    from hummingbird_spark.plans.queries import QUERIES

    spark = get_spark(app_name="hummingbird_verify")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.data}/{t}.parquet'")

    def value_hash(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        canon = sorted(tuple(repr(r[i]) for i in order) for r in rows)
        return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]

    names = args.only or list(QUERIES)
    failures = 0
    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            print(json.dumps({"query": name, "status": "unknown"}))
            failures += 1
            continue
        try:
            sdf = spec.spark(spark, args.data)
            if spec.oracle is None:
                n = sdf.count()
                print(json.dumps({"query": name, "status": "rows_only",
                                  "rows": n}))
                continue
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(spec.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            ok = (value_hash(sdf.columns, s_rows)
                  == value_hash(d_cols, d_rows))
            print(json.dumps({
                "query": name, "status": "match" if ok else "MISMATCH",
                "rows": len(s_rows),
            }))
            failures += 0 if ok else 1
        except Exception as ex:  # surface, keep going
            print(json.dumps({"query": name, "status": "ERROR",
                              "error": f"{type(ex).__name__}: {ex}"[:200]}))
            failures += 1
    print(json.dumps({"command": "verify", "queries": len(names),
                      "failures": failures}))
    return 0 if failures == 0 else 1


def _print_rows(df, limit: int) -> None:
    for row in df.limit(limit).toJSON().collect():
        print(row)


def _cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc Spark SQL over the fixture tables (registered as temp
    views) — the `duckdb`-style one-shot query workflow. `--explain`
    prints the formatted plan instead of rows."""
    from hummingbird_spark.sources.tables import register_views

    spark = get_spark(app_name="hummingbird_sql")
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, args.data)
    df = spark.sql(args.query)
    if args.explain:
        df.explain(mode="formatted")
        return 0
    _print_rows(df, args.limit)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hummingbird_spark")
    sub = p.add_subparsers(dest="command", required=True)
    for name in ("start", "resume", "compare", "worker"):
        sp = sub.add_parser(name)
        sp.add_argument("config", help="migration config JSON")
        if name in ("start", "resume"):
            sp.add_argument(
                "--port", type=int, default=None,
                help="serve a progress UI on this port while the "
                     "migration runs (reference default: 3629; 0 picks "
                     "an ephemeral port)")
    sub.add_parser("version")
    comp = sub.add_parser("compact")
    comp.add_argument("path")
    comp.add_argument("--target-mb", type=int, default=128)
    comp.add_argument("--partition-col", action="append", default=None)
    ver = sub.add_parser("verify")
    ver.add_argument("--data", default="/root/testdata/sf0.01")
    ver.add_argument("--only", action="append", default=None,
                     help="limit to these query names (repeatable)")
    prof = sub.add_parser("profile")
    prof.add_argument("path", help="parquet table to profile")
    prof.add_argument("--exact", action="store_true",
                      help="exact distinct counts (full shuffle per col)")
    ret = sub.add_parser("retention")
    ret.add_argument("path")
    ret.add_argument("--order-col", required=True,
                     help="insertion-order column (oldest rows drop first)")
    ret.add_argument("--max-rows", type=int, default=None)
    ret.add_argument("--max-bytes", type=int, default=None)
    ana = sub.add_parser("analyze")
    ana.add_argument("path", help="documents parquet (doc_id, text, ...)")
    ana.add_argument("--source-col", default="source")
    ana.add_argument("--lang-col", default=None,
                     help="use this column instead of detecting language")
    ana.add_argument("--dup-substrings", type=int, default=None,
                     metavar="MIN_TOKENS",
                     help="also report the token fraction a Lee-et-al "
                          "exact-substring pass at this length removes")
    srch = sub.add_parser("search")
    srch.add_argument("terms", help="space-separated query terms")
    srch.add_argument("--data", required=True,
                      help="documents parquet (doc_id, text)")
    srch.add_argument("--k", type=int, default=10)
    srch.add_argument("--embeddings", default=None,
                      help="embeddings parquet for hybrid RRF fusion")
    srch.add_argument("--query-vec-id", type=int, default=0,
                      help="vec_id whose embedding is the vector query")
    cur = sub.add_parser("curate")
    cur.add_argument("src", help="source documents parquet")
    cur.add_argument("out", help="curated output parquet")
    cur.add_argument("--min-quality", type=float, default=0.5)
    cur.add_argument("--gopher-rules", action="store_true",
                     help="apply the published Gopher A1 quality rules")
    cur.add_argument("--lang", action="append", default=None,
                     help="accepted languages (repeatable; omit to skip)")
    cur.add_argument("--classifier-threshold", type=float, default=None)
    cur.add_argument("--max-dup-segments", type=float, default=None)
    cur.add_argument("--max-perplexity", type=float, default=None)
    cur.add_argument("--strip-boilerplate", action="store_true")
    cur.add_argument("--strip-cross-doc-boilerplate", type=int,
                     default=None, metavar="MIN_DOCS",
                     help="drop lines repeating across >= MIN_DOCS docs")
    cur.add_argument("--remove-dup-substrings", type=int, default=None,
                     metavar="MIN_TOKENS",
                     help="cut all-but-first occurrences of duplicated "
                          ">= MIN_TOKENS-token substrings (Lee et al.)")
    cur.add_argument("--no-dedup", action="store_true")
    dsr = sub.add_parser("dsir")
    dsr.add_argument("src", help="source documents parquet")
    dsr.add_argument("out", help="selected-docs output parquet")
    dsr.add_argument("-k", type=int, required=True,
                     help="number of docs to sample")
    dsr.add_argument("--target-filter", required=True,
                     help="Spark SQL boolean expr defining the target "
                          "slice, e.g. \"lang = 'en'\"")
    dsr.add_argument("--buckets", type=int, default=4096)
    dsr.add_argument("--alpha", type=float, default=0.5)
    dsr.add_argument("--seed", default="dsir")
    dsr.add_argument("--distributed", action="store_true",
                     help="huge-k quantile-cutoff path (no driver-side "
                          "top-k merge); same rows as the default path")
    clu = sub.add_parser("cluster")
    clu.add_argument("src", help="source embeddings parquet")
    clu.add_argument("out", help="clustered output parquet")
    clu.add_argument("-k", type=int, default=16, help="clusters")
    clu.add_argument("--iterations", type=int, default=3)
    clu.add_argument("--sample", type=int, default=None,
                     help="write a cluster-balanced sample of N rows "
                          "per cluster instead of the full assignment")
    clu.add_argument("--vec-col", default="embedding")
    clu.add_argument("--id-col", default="vec_id")
    qcls = sub.add_parser("classifier")
    qcls.add_argument("src", help="source documents parquet")
    qcls.add_argument("out", help="scored output parquet")
    qcls.add_argument("--label", required=True,
                      help="Spark SQL boolean expr defining the seed "
                           "positives, e.g. \"lang = 'en'\"")
    qcls.add_argument("--buckets", type=int, default=1024)
    qcls.add_argument("--iterations", type=int, default=8)
    qcls.add_argument("--lr", type=float, default=0.5)
    qcls.add_argument("--threshold", type=float, default=None,
                      help="if set, write only rows with score >= T "
                           "(the quality-filter cut)")
    mix = sub.add_parser("mixture")
    mix.add_argument("src", help="source documents parquet")
    mix.add_argument("--budget", type=float, required=True,
                     help="total training-token budget to allocate")
    mix.add_argument("--epoch-cap", type=float, default=4.0,
                     help="max repeats of any source (UniMax N)")
    mix.add_argument("--source-col", default="source")
    mix.add_argument("--text-col", default="text")
    smp = sub.add_parser("sample")
    smp.add_argument("src", help="source documents parquet")
    smp.add_argument("out", help="sampled output parquet")
    smp.add_argument("-k", type=int, required=True,
                     help="docs to keep per stratum")
    smp.add_argument("--strata-col", default="source")
    smp.add_argument("--weight-col", default=None,
                     help="optional weight column (sampling probability "
                          "~ weight, Efraimidis-Spirakis)")
    smp.add_argument("--id-col", default="doc_id")
    smp.add_argument("--seed", default="rsv")
    qnt = sub.add_parser("quantiles")
    qnt.add_argument("src", help="source parquet")
    qnt.add_argument("value_col", help="non-negative integer column")
    qnt.add_argument("-q", type=float, action="append", default=None,
                     help="quantile in (0,1); repeatable "
                          "(default: 0.5 0.9 0.99)")
    qnt.add_argument("-s", type=int, default=5,
                     help="sub-bucket bits: relative error <= 2^-s")
    mon = sub.add_parser("monitor")
    mon.add_argument("src", help="stream input dir (JSONL files)")
    mon.add_argument("state", help="summary state dir (4 stores + "
                                   "checkpoints live under it)")
    mon.add_argument("--text-col", default="text")
    mon.add_argument("--strata-col", default="source")
    mon.add_argument("--value-col", default="n_chars")
    mon.add_argument("--id-col", default="doc_id")
    mon.add_argument("--weight-col", default=None,
                     help="optional reservoir weight column")
    mon.add_argument("-k", type=int, default=10,
                     help="Misra-Gries top-k size")
    mon.add_argument("--reservoir-k", type=int, default=4,
                     help="sample size per stratum")
    mon.add_argument("--depth", type=int, default=4)
    mon.add_argument("--width", type=int, default=64)
    mon.add_argument("-s", type=int, default=5,
                     help="HDR sub-bucket bits")
    mon.add_argument("-q", type=float, action="append", default=None,
                     help="quantile in (0,1); repeatable "
                          "(default: 0.5 0.9 0.99)")
    gph = sub.add_parser("graph")
    gph.add_argument("src", help="documents parquet (rare-shingle "
                                 "link graph is built from text), or "
                                 "an (a, b) edge-list parquet with "
                                 "--edges")
    gph.add_argument("out", help="output parquet")
    gph.add_argument("--op", choices=["pagerank", "communities"],
                     default="pagerank")
    gph.add_argument("--edges", action="store_true",
                     help="src is already an (a, b) edge list")
    gph.add_argument("--rounds", type=int, default=None,
                     help="iteration rounds (default 4 pagerank / "
                          "3 communities)")
    gph.add_argument("--min-df", type=int, default=2)
    gph.add_argument("--max-df", type=int, default=5)
    gph.add_argument("--text-col", default="text")
    gph.add_argument("--id-col", default="doc_id")
    mdd = sub.add_parser("media-dedup")
    mdd.add_argument("src", help="stream input dir (parquet files of "
                                 "media_id + data rows)")
    mdd.add_argument("out", help="accepted-media output parquet")
    mdd.add_argument("store", help="pHash band store path")
    mdd.add_argument("--id-col", default="media_id")
    mdd.add_argument("--max-hamming", type=int, default=6)
    aud = sub.add_parser("audio-dedup")
    aud.add_argument("src", help="stream input dir (parquet files of "
                                 "media_id + WAV data rows)")
    aud.add_argument("out", help="accepted-audio output parquet")
    aud.add_argument("store", help="fingerprint store path")
    aud.add_argument("--id-col", default="media_id")
    aud.add_argument("--window-ms", type=int, default=4)
    aud.add_argument("--min-matched", type=int, default=4)
    win = sub.add_parser("warc-ingest")
    win.add_argument("src", help="WARC path/glob: .warc text, "
                                 ".warc.gz (per-record gzip members) "
                                 "or uncompressed binary")
    win.add_argument("out", help="(url, html) parquet — the crawl "
                                 "subcommand's input shape")
    win.add_argument("--reader",
                     choices=["auto", "text", "gz", "binary"],
                     default="auto",
                     help="auto dispatches on a .gz suffix; pass gz/"
                          "binary explicitly for directories")
    wix = sub.add_parser("warc-index")
    wix.add_argument("src", help=".warc.gz path/glob to backfill "
                                 "CDX sidecars for (skips files "
                                 "already indexed)")
    wfc = sub.add_parser("warc-fetch")
    wfc.add_argument("src", help="indexed .warc.gz dir (sidecars "
                                 "from wet-export or warc-index)")
    wfc.add_argument("out", help="parquet of the fetched records")
    wfc.add_argument("--url", action="append", default=[],
                     help="exact target URI (repeatable)")
    wfc.add_argument("--url-prefix", default=None,
                     help="target URI prefix filter")
    wet = sub.add_parser("wet-export")
    wet.add_argument("src", help="curated parquet (the crawl "
                                 "subcommand's output)")
    wet.add_argument("out", help="output dir of .warc.gz files "
                                 "(one gzip member per record)")
    wet.add_argument("--uri-col", default="canonical_url")
    wet.add_argument("--body-col", default="text")
    wet.add_argument("--warc-type", default="conversion")
    crw = sub.add_parser("crawl")
    crw.add_argument("src", help="stream input dir (parquet files of "
                                 "url + html rows)")
    crw.add_argument("out", help="curated-page output parquet")
    crw.add_argument("store", help="canonical-URL store path")
    crw.add_argument("--block-domain", action="append", default=[],
                     help="registered domain to drop (repeatable)")
    crw.add_argument("--robots", default=None,
                     help="(host, robots_txt) parquet; disallowed "
                          "URLs never land")
    crw.add_argument("--robots-agent", default="trainingbot")
    crw.add_argument("--allow-updates", action="store_true",
                     help="recrawl mode: refetched URLs land again; "
                          "curated rows gain fetch_seq (the newest "
                          "fetch has the largest)")
    lkg = sub.add_parser("link-graph")
    lkg.add_argument("src", help="stream input dir (JSON files of "
                                 "doc_id + text rows)")
    lkg.add_argument("postings", help="append-only (g, doc_id) "
                                      "postings store path")
    lkg.add_argument("edges", help="swap-maintained (g, a, b) edge "
                                   "triple store path")
    lkg.add_argument("--min-df", type=int, default=2)
    lkg.add_argument("--max-df", type=int, default=5)
    lkg.add_argument("--text-col", default="text")
    lkg.add_argument("--id-col", default="doc_id")
    fro = sub.add_parser("frontier")
    fro.add_argument("src", help="stream input dir (parquet files of "
                                 "sitemap_xml rows)")
    fro.add_argument("frontier", help="fetch-queue store path")
    fro.add_argument("--crawled", default=None,
                     help="crawl ingest's canonical-URL store "
                          "(fetched URLs leave the queue)")
    fro.add_argument("--robots", default=None,
                     help="(host, robots_txt) parquet")
    fro.add_argument("--robots-agent", default="trainingbot")
    fro.add_argument("--delta", action="store_true",
                     help="delta-maintained bucketed queue "
                          "(streaming/frontier_delta.py): per-tick "
                          "cost bounded by the batch + crawl delta, "
                          "not the queue")
    fro.add_argument("--recrawl-on-update", action="store_true",
                     help="(--delta only) a sitemap advertising a "
                          "strictly newer lastmod re-queues a "
                          "crawled URL instead of dying against "
                          "the mirror")
    wbg = sub.add_parser("web-graph")
    wbg.add_argument("src", help="stream input dir (parquet files of "
                                 "doc_id + base + html rows)")
    wbg.add_argument("pages", help="append-only (curl, tgt) page "
                                   "store path")
    wbg.add_argument("links", help="append-only (src, curl) link "
                                   "store path")
    wbg.add_argument("edges", help="append-only (a, b) edge store "
                                   "path")
    wbg.add_argument("--versioned", action="store_true",
                     help="update-aware graph "
                          "(streaming/web_graph_versioned.py): page "
                          "UPDATES retract removed out-links; edge "
                          "store holds directed +1/-1 ops, versions "
                          "store lands at <edges>.vers")
    sim = sub.add_parser("sim")
    sim.add_argument("--ops", type=int, default=300)
    sim.add_argument("--seconds", type=int, default=10)
    sim.add_argument("--out", required=True)
    pipe = sub.add_parser("pipeline")
    pipe.add_argument("pipeline", help="JSON file: array of stages")
    pipe.add_argument("--table", required=True)
    pipe.add_argument("--data", required=True,
                      help="directory of <table>.parquet files")
    pipe.add_argument("--limit", type=int, default=1000)
    pipe.add_argument("--explain", action="store_true",
                      help="print the formatted physical plan instead "
                           "of rows")
    for name in ("query", "explain"):
        qp = sub.add_parser(name)
        qp.add_argument("name", nargs="?", default=None)
        qp.add_argument("--data", default="/root/testdata/sf0.001")
        if name == "query":
            qp.add_argument("--limit", type=int, default=1000)
            qp.add_argument("--list", action="store_true")
        else:
            qp.add_argument("--mode", default="formatted",
                            choices=["simple", "extended", "formatted",
                                     "codegen", "cost"])
    sqlp = sub.add_parser("sql")
    sqlp.add_argument("query")
    sqlp.add_argument("--data", default="/root/testdata/sf0.001")
    sqlp.add_argument("--limit", type=int, default=1000)
    sqlp.add_argument("--explain", action="store_true")
    args = p.parse_args(argv)
    if args.command == "sql":
        return _cmd_sql(args)
    if args.command in ("query", "explain"):
        if args.command == "query" and not args.list and args.name is None:
            p.error("query requires a name or --list")
        if args.command == "explain" and args.name is None:
            p.error("explain requires a query name")
        return _cmd_query(args, explain=args.command == "explain")
    if args.command == "pipeline":
        return _cmd_pipeline(args)
    if args.command == "start":
        return _cmd_start(args)
    if args.command == "resume":
        return _cmd_start(args, resume=True)
    if args.command == "compare":
        return _cmd_compare(args)
    if args.command == "sim":
        return _cmd_sim(args)
    if args.command == "version":
        from hummingbird_spark import __version__
        print(__version__)
        return 0
    if args.command == "compact":
        from hummingbird_spark.operators.compact import compact_table
        spark = get_spark(app_name="hummingbird_compact")
        spark.sparkContext.setLogLevel("ERROR")
        report = compact_table(
            spark, args.path,
            target_file_bytes=args.target_mb * 1024 * 1024,
            partition_cols=args.partition_col,
        )
        print(json.dumps({"command": "compact", **report}))
        return 0
    if args.command == "verify":
        return _cmd_verify(args)
    if args.command == "analyze":
        from hummingbird_spark.operators.profile import corpus_report

        spark = get_spark(app_name="hummingbird_analyze")
        spark.sparkContext.setLogLevel("ERROR")
        report = corpus_report(
            spark.read.parquet(args.path),
            source_col=args.source_col, lang_col=args.lang_col,
            dup_substring_min_len=args.dup_substrings)
        print(json.dumps({"command": "analyze", **report}))
        return 0
    if args.command == "search":
        from pyspark.sql import functions as _F
        from hummingbird_spark.operators.search import bm25_topk, rrf_fuse
        from hummingbird_spark.operators.similarity import cosine_topk

        spark = get_spark(app_name="hummingbird_search")
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(args.data)
        lex = bm25_topk(docs, args.terms.split(), k=args.k)
        if args.embeddings:
            emb = spark.read.parquet(args.embeddings)
            qrow = emb.filter(
                _F.col("vec_id") == args.query_vec_id
            ).first()
            if qrow is None:
                print(f"vec_id {args.query_vec_id!r} not found in "
                      f"{args.embeddings}", file=sys.stderr)
                return 2
            qv = qrow.embedding
            vec = cosine_topk(emb, list(qv), k=args.k).select(
                _F.col("vec_id").alias("doc_id"), "score")
            result = rrf_fuse([lex, vec], k=args.k)
        else:
            result = lex
        for row in result.toJSON().collect():
            print(row)
        return 0
    if args.command == "curate":
        from hummingbird_spark.operators.curate import curate_corpus

        spark = get_spark(app_name="hummingbird_curate")
        spark.sparkContext.setLogLevel("ERROR")
        rep = curate_corpus(
            spark, spark.read.parquet(args.src), args.out,
            min_quality=args.min_quality,
            gopher_rules=args.gopher_rules,
            langs=tuple(args.lang) if args.lang else None,
            classifier_threshold=args.classifier_threshold,
            max_dup_segment_fraction=args.max_dup_segments,
            max_perplexity=args.max_perplexity,
            strip_boilerplate=args.strip_boilerplate,
            strip_cross_doc_boilerplate=args.strip_cross_doc_boilerplate,
            remove_dup_substrings=args.remove_dup_substrings,
            dedup=not args.no_dedup,
        )
        print(json.dumps({
            "command": "curate", "n_input": rep.n_input,
            "n_kept": rep.n_kept,
            "keep_rate": round(rep.keep_rate, 6),
            "dropped": rep.dropped, "out": rep.out_path,
        }))
        return 0
    if args.command == "dsir":
        from pyspark.sql import functions as _F
        from hummingbird_spark.operators.dsir import (
            dsir_select, dsir_select_distributed)

        spark = get_spark(app_name="hummingbird_dsir")
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(args.src)
        fn = dsir_select_distributed if args.distributed else dsir_select
        picked = fn(docs, _F.expr(args.target_filter), k=args.k,
                    buckets=args.buckets, alpha=args.alpha,
                    seed=args.seed)
        # selection carries (doc_id, log_w, gumbel_score); rejoin the
        # full rows so the output parquet is a usable corpus slice
        out = docs.join(
            picked.select("doc_id", "log_w", "gumbel_score"), "doc_id")
        out.write.mode("overwrite").parquet(args.out)
        n_in = docs.count()
        n_out = spark.read.parquet(args.out).count()
        print(json.dumps({
            "command": "dsir", "n_input": n_in, "k": args.k,
            "n_selected": n_out, "distributed": bool(args.distributed),
            "out": args.out,
        }))
        return 0
    if args.command == "classifier":
        from pyspark.sql import functions as _F

        from hummingbird_spark.operators.classifier import (
            score_hashed_logreg, train_hashed_logreg)

        spark = get_spark(app_name="hummingbird_classifier")
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(args.src)
        w = train_hashed_logreg(
            docs, _F.expr(args.label), buckets=args.buckets,
            iterations=args.iterations, lr=args.lr)
        scored = score_hashed_logreg(docs, w, buckets=args.buckets)
        out = docs.join(scored, "doc_id")
        if args.threshold is not None:
            out = out.filter(_F.col("score") >= args.threshold)
        out.write.mode("overwrite").parquet(args.out)
        n_in = docs.count()
        n_out = spark.read.parquet(args.out).count()
        print(json.dumps({
            "command": "classifier", "n_input": n_in,
            "n_output": n_out, "buckets": args.buckets,
            "iterations": args.iterations,
            "threshold": args.threshold,
            "nonzero_weights": sum(1 for x in w if x != 0),
            "out": args.out,
        }))
        return 0
    if args.command == "mixture":
        from pyspark.sql import functions as _F

        from hummingbird_spark.functions.text import token_count
        from hummingbird_spark.operators.mixture import unimax_allocation

        spark = get_spark(app_name="hummingbird_mixture")
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(args.src)
        counts = docs.groupBy(args.source_col).agg(
            _F.sum(token_count(_F.col(args.text_col))).alias("n_tokens"))
        rows = unimax_allocation(
            counts, budget=args.budget, epoch_cap=args.epoch_cap,
            source_col=args.source_col,
        ).orderBy(args.source_col).collect()
        print(json.dumps({
            "command": "mixture", "budget": args.budget,
            "epoch_cap": args.epoch_cap,
            "n_sources": len(rows),
            "allocated": round(sum(r["allocation"] for r in rows), 4),
            "sources": [
                {"source": r[args.source_col],
                 "n_tokens": r["n_tokens"],
                 "allocation": r["allocation"],
                 "epochs": r["epochs"], "weight": r["weight"]}
                for r in rows
            ],
        }))
        return 0
    if args.command == "cluster":
        from hummingbird_spark.operators.cluster import (
            cluster_balanced_sample, kmeans_assign)

        spark = get_spark(app_name="hummingbird_cluster")
        spark.sparkContext.setLogLevel("ERROR")
        vecs = spark.read.parquet(args.src)
        if args.sample is not None:
            picked = cluster_balanced_sample(
                vecs, k=args.k, n_per_cluster=args.sample,
                iterations=args.iterations,
                vec_col=args.vec_col, id_col=args.id_col)
        else:
            picked = kmeans_assign(
                vecs, k=args.k, iterations=args.iterations,
                vec_col=args.vec_col, id_col=args.id_col)
        # rejoin full rows so the output is a usable corpus slice with
        # (cluster, dist2) attached (same contract as the dsir CLI)
        out = vecs.join(picked, args.id_col)
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        sizes = {
            int(r["cluster"]): r["count"]
            for r in written.groupBy("cluster").count().collect()
        }
        print(json.dumps({
            "command": "cluster", "n_input": vecs.count(), "k": args.k,
            "iterations": args.iterations,
            "sample_per_cluster": args.sample,
            "n_output": written.count(),
            "cluster_sizes": dict(sorted(sizes.items())),
            "out": args.out,
        }))
        return 0
    if args.command == "sample":
        from hummingbird_spark.operators.dsir import stratified_reservoir

        spark = get_spark(app_name="hummingbird_sample")
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(args.src)
        picked = stratified_reservoir(
            docs, args.strata_col, args.k,
            weight_col=args.weight_col, id_col=args.id_col,
            seed=args.seed)
        # rejoin full rows so the output is a usable corpus slice with
        # the per-stratum rank attached (same contract as dsir/cluster)
        out = docs.join(picked.select(args.id_col, "rk"), args.id_col)
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        per = {
            str(r[args.strata_col]): r["count"]
            for r in written.groupBy(args.strata_col).count().collect()
        }
        print(json.dumps({
            "command": "sample", "k": args.k,
            "strata_col": args.strata_col,
            "weight_col": args.weight_col, "seed": args.seed,
            "n_input": docs.count(), "n_output": written.count(),
            "per_stratum": dict(sorted(per.items())),
            "out": args.out,
        }))
        return 0
    if args.command == "quantiles":
        from hummingbird_spark.operators.sketch import hdr_quantiles

        spark = get_spark(app_name="hummingbird_quantiles")
        spark.sparkContext.setLogLevel("ERROR")
        src = spark.read.parquet(args.src)
        qs = tuple(args.q) if args.q else (0.5, 0.9, 0.99)
        rows = hdr_quantiles(src, args.value_col, qs, args.s).collect()
        print(json.dumps({
            "command": "quantiles", "value_col": args.value_col,
            "s": args.s, "rel_error_bound": 2.0 ** -args.s,
            "quantiles": [
                {"q": r["q"], "lo": r["lo"], "hi": r["hi"]}
                for r in rows
            ],
        }))
        return 0
    if args.command == "monitor":
        # the composed continuous corpus monitor: one document stream
        # fanned out to the four bounded-state summaries (CMS token
        # frequencies, Misra-Gries top-k, HDR value histogram,
        # stratified reservoir), each with its own checkpoint + store
        # under <state>. availableNow drains whatever is in <src> and
        # returns; re-running resumes from the checkpoints, so this is
        # the cron-able ingest tick of a continuous monitor.
        from hummingbird_spark.operators.sketch import (
            hdr_quantiles_from_hist,
        )
        from hummingbird_spark.streaming.reservoir import (
            read_reservoir,
            start_continuous_reservoir,
        )
        from hummingbird_spark.streaming.sketch import (
            read_hist,
            read_topk,
            start_continuous_cms,
            start_continuous_hdr,
            start_continuous_topk,
            topk_meta,
        )

        spark = get_spark(app_name="hummingbird_monitor")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.json(args.src).schema
        base = args.state.rstrip("/")
        queries = [
            start_continuous_cms(spark, args.src, f"{base}/cms",
                                 schema, text_col=args.text_col,
                                 depth=args.depth, width=args.width),
            start_continuous_topk(spark, args.src, f"{base}/topk",
                                  schema, text_col=args.text_col,
                                  k=args.k),
            start_continuous_hdr(spark, args.src, f"{base}/hist",
                                 schema, args.value_col, s=args.s),
            start_continuous_reservoir(
                spark, args.src, f"{base}/rsv", schema,
                args.strata_col, args.reservoir_k,
                weight_col=args.weight_col, id_col=args.id_col),
        ]
        for q in queries:
            # awaitTermination(timeout) returns False while the drain
            # is still running; reporting store state then would print
            # a partial tick as if it completed — fail loudly instead
            if not q.awaitTermination(600):
                q.stop()
                print("monitor: availableNow drain exceeded 600s; "
                      "state is incomplete", file=sys.stderr)
                return 1
        meta = topk_meta(f"{base}/topk")
        slack = meta["n"] // (meta["k"] + 1)
        top = sorted(
            ((r.tok, r.cnt)
             for r in read_topk(spark, f"{base}/topk").collect()),
            key=lambda t: (-t[1], t[0]))
        qs = tuple(args.q) if args.q else (0.5, 0.9, 0.99)
        quant = hdr_quantiles_from_hist(
            read_hist(spark, f"{base}/hist"), qs, s=args.s).collect()
        per = {
            str(r[args.strata_col]): r["count"]
            for r in read_reservoir(spark, f"{base}/rsv")
            .groupBy(args.strata_col).count().collect()
        }
        print(json.dumps({
            "command": "monitor", "state": base,
            "stream_weight_n": meta["n"], "topk_k": meta["k"],
            "topk": [
                {"tok": t, "cnt": c,
                 "true_count_bound": [c, c + slack]}
                for t, c in top
            ],
            "value_col": args.value_col,
            "quantiles": [
                {"q": r["q"], "lo": r["lo"], "hi": r["hi"]}
                for r in quant
            ],
            "reservoir_per_stratum": dict(sorted(per.items())),
        }))
        return 0
    if args.command == "graph":
        # post-dedup corpus weighting: PageRank mass or community
        # labels over the rare-shingle link graph (or a user edge
        # list) — exact integer trajectories, any partitioning
        from pyspark.sql import functions as F

        from hummingbird_spark.operators.graph import (
            label_propagation,
            pagerank_scaled,
            rare_trigram_edges,
        )

        spark = get_spark(app_name="hummingbird_graph")
        spark.sparkContext.setLogLevel("ERROR")
        src = spark.read.parquet(args.src)
        if args.edges:
            edges = src.select("a", "b")
        else:
            edges = rare_trigram_edges(
                src, text_col=args.text_col, id_col=args.id_col,
                min_df=args.min_df, max_df=args.max_df)
        if args.op == "pagerank":
            res = pagerank_scaled(edges,
                                  rounds=args.rounds or 4)
            top = [
                {"node": r.node, "degree": r.deg,
                 "rank_scaled": r.rank_scaled}
                for r in res.orderBy(F.desc("rank_scaled"), "node")
                .limit(5).collect()
            ]
            summary = {"top5": top}
        else:
            res = label_propagation(edges, rounds=args.rounds or 3)
            sizes = (res.groupBy("community").count()
                     .orderBy(F.desc("count"), "community").limit(5))
            summary = {"top5_communities": [
                {"community": r.community, "size": r["count"]}
                for r in sizes.collect()
            ]}
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "command": "graph", "op": args.op,
            "n_nodes": res.count(),
            "n_edges": edges.count(),
            "out": args.out, **summary,
        }))
        return 0
    if args.command == "media-dedup":
        # continuous-ingestion image dedup tick: drain whatever is in
        # <src> through the pHash band-store filter (verified Hamming
        # store hits + intra-batch near-dups drop), then report.
        from hummingbird_spark.streaming.media_dedup import (
            start_streaming_phash_dedup,
        )

        spark = get_spark(app_name="hummingbird_media_dedup")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.parquet(args.src).schema
        q = start_streaming_phash_dedup(
            spark, args.src, args.out, args.store, schema,
            id_col=args.id_col, max_hamming=args.max_hamming)
        if not q.awaitTermination(600):
            q.stop()
            print("media-dedup: availableNow drain exceeded 600s; "
                  "store/out are incomplete", file=sys.stderr)
            return 1
        n_out = spark.read.parquet(args.out).count()
        n_store = spark.read.parquet(args.store).count()
        print(json.dumps({
            "command": "media-dedup", "max_hamming": args.max_hamming,
            "n_accepted": n_out,
            "store_band_rows": n_store,
            "out": args.out, "store": args.store,
        }))
        return 0
    if args.command == "audio-dedup":
        # continuous-ingestion audio dedup tick: aligned-fingerprint
        # store filter (streaming/audio_dedup.py), then report.
        from hummingbird_spark.streaming.audio_dedup import (
            start_streaming_audio_dedup,
        )

        spark = get_spark(app_name="hummingbird_audio_dedup")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.parquet(args.src).schema
        q = start_streaming_audio_dedup(
            spark, args.src, args.out, args.store, schema,
            id_col=args.id_col, window_ms=args.window_ms,
            min_matched=args.min_matched)
        if not q.awaitTermination(600):
            q.stop()
            print("audio-dedup: availableNow drain exceeded 600s; "
                  "store/out are incomplete", file=sys.stderr)
            return 1
        print(json.dumps({
            "command": "audio-dedup",
            "min_matched": args.min_matched,
            "n_accepted": spark.read.parquet(args.out).count(),
            "store_fp_rows": spark.read.parquet(args.store).count(),
            "out": args.out, "store": args.store,
        }))
        return 0
    if args.command == "frontier":
        # crawl-scheduler tick: drain sitemap arrivals into the fetch
        # queue (streaming/frontier.py), then report the schedule.
        from hummingbird_spark.streaming.frontier import (
            read_fetch_schedule,
            start_streaming_frontier,
        )

        spark = get_spark(app_name="hummingbird_frontier")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.parquet(args.src).schema
        if args.delta:
            from hummingbird_spark.streaming.frontier_delta import (
                start_streaming_frontier_delta,
            )

            q = start_streaming_frontier_delta(
                spark, args.src, args.frontier, schema,
                crawled_path=args.crawled, robots_path=args.robots,
                robots_agent=args.robots_agent,
                recrawl_on_update=args.recrawl_on_update)
        else:
            q = start_streaming_frontier(
                spark, args.src, args.frontier, schema,
                crawled_path=args.crawled, robots_path=args.robots,
                robots_agent=args.robots_agent)
        if not q.awaitTermination(600):
            q.stop()
            print("frontier: availableNow drain exceeded 600s; "
                  "queue is incomplete", file=sys.stderr)
            return 1
        robots_df = (spark.read.parquet(args.robots)
                     if args.robots else None)
        if args.delta:
            # read_delta_frontier handles the empty store (every
            # entry robots-blocked or crawled, or no batch arrived)
            # where a bare parquet read on <root>/queue throws.
            from hummingbird_spark.streaming.frontier_delta import (
                read_delta_frontier,
            )

            queue_src = read_delta_frontier(spark, args.frontier)
        else:
            queue_src = args.frontier
        sched = read_fetch_schedule(spark, queue_src, robots_df,
                                    args.robots_agent)
        n_directives = 0
        if robots_df is not None:
            from hummingbird_spark.operators.robots import (
                robots_sitemaps,
            )

            n_directives = robots_sitemaps(robots_df).count()
        print(json.dumps({
            "command": "frontier",
            "n_queued": sched.count(),
            "n_hosts": sched.select("host").distinct().count(),
            "n_sitemap_directives": n_directives,
            "frontier": args.frontier,
        }))
        return 0
    if args.command == "web-graph":
        # incremental web-graph tick: drain <src> into the page/link/
        # edge stores (streaming/web_graph.py), then report the
        # maintained graph.
        from hummingbird_spark.streaming.web_graph import (
            read_web_edges,
            start_streaming_web_graph,
        )

        spark = get_spark(app_name="hummingbird_web_graph")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.parquet(args.src).schema
        if args.versioned:
            from hummingbird_spark.streaming.web_graph_versioned import (
                read_web_edges_versioned,
                start_streaming_web_graph_versioned,
            )

            q = start_streaming_web_graph_versioned(
                spark, args.src, args.links, args.edges + ".vers",
                args.pages, args.edges, schema)
        else:
            q = start_streaming_web_graph(
                spark, args.src, args.pages, args.links, args.edges,
                schema)
        if not q.awaitTermination(600):
            q.stop()
            print("web-graph: availableNow drain exceeded 600s; "
                  "stores are incomplete", file=sys.stderr)
            return 1
        edges = (read_web_edges_versioned(spark, args.edges)
                 if args.versioned
                 else read_web_edges(spark, args.edges))
        print(json.dumps({
            "command": "web-graph",
            "n_pages": spark.read.parquet(args.pages).count(),
            "n_links": spark.read.parquet(args.links).count(),
            "n_edges": edges.count(),
            "edges": args.edges,
        }))
        return 0
    if args.command == "warc-ingest":
        # decode plane: WARC records -> (url, html) parquet rows, the
        # exact input shape the `crawl` subcommand streams — chain
        # `warc-ingest` then `crawl` to go from Common-Crawl-style
        # files to the curated store. Only complete (length_ok) 200
        # responses with a target URI pass.
        from pyspark.sql import functions as F

        from hummingbird_spark.sources.warc import (
            read_warc,
            read_warc_binary,
            read_warc_gz,
        )

        spark = get_spark(app_name="hummingbird_warc_ingest")
        spark.sparkContext.setLogLevel("ERROR")
        reader = {"auto": read_warc, "text": read_warc,
                  "gz": read_warc_gz,
                  "binary": read_warc_binary}[args.reader]
        recs = reader(spark, args.src)
        n_records = recs.count()
        ok = recs.filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == "200")
            & F.col("length_ok") & (F.col("target_uri") != ""))
        pages = ok.select(F.col("target_uri").alias("url"),
                          F.col("body").alias("html"))
        pages.write.mode("overwrite").parquet(args.out)
        n_pages = spark.read.parquet(args.out).count()
        print(json.dumps({
            "command": "warc-ingest",
            "reader": args.reader,
            "n_records": n_records,
            "n_pages": n_pages,
            "n_rejected": n_records - n_pages,
            "out": args.out,
        }))
        return 0
    if args.command == "warc-index":
        # index plane: backfill CDX sidecars (target_uri, offset,
        # length) for external .warc.gz files — one member walk per
        # file; every later lookup via fetch_warc_records is ranged.
        from pyspark.sql import functions as F

        from hummingbird_spark.sources.warc import index_warc_gz

        spark = get_spark(app_name="hummingbird_warc_index")
        spark.sparkContext.setLogLevel("ERROR")
        man = index_warc_gz(spark, args.src).collect()
        print(json.dumps({
            "command": "warc-index",
            "n_files": len(man),
            "n_indexed": sum(1 for m in man if m.indexed),
            "n_skipped": sum(1 for m in man if not m.indexed),
            "n_records": sum(m.n_records for m in man if m.indexed),
        }))
        return 0
    if args.command == "warc-fetch":
        # lookup plane: CDX-indexed record-range reads — k records
        # cost O(k) bytes regardless of corpus size.
        from pyspark.sql import functions as F

        from hummingbird_spark.sources.warc import (
            fetch_warc_records,
            read_warc_gz_index,
        )

        spark = get_spark(app_name="hummingbird_warc_fetch")
        spark.sparkContext.setLogLevel("ERROR")
        idx = read_warc_gz_index(spark, args.src)
        if args.url:
            idx = idx.filter(F.col("target_uri").isin(*args.url))
        if args.url_prefix:
            idx = idx.filter(
                F.col("target_uri").startswith(args.url_prefix))
        recs = fetch_warc_records(spark, idx)
        recs.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({
            "command": "warc-fetch",
            "n_selected": idx.count(),
            "n_fetched": n,
            "out": args.out,
        }))
        return 0
    if args.command == "wet-export":
        # encode plane: curated rows -> WET-style per-record-gzip
        # WARC conversion records — the inverse of warc-ingest, so
        # the codec roundtrips end-to-end.
        from hummingbird_spark.sources.warc import write_warc_gz

        spark = get_spark(app_name="hummingbird_wet_export")
        spark.sparkContext.setLogLevel("ERROR")
        manifest = write_warc_gz(
            spark.read.parquet(args.src), args.out,
            uri_col=args.uri_col, body_col=args.body_col,
            warc_type=args.warc_type).collect()
        print(json.dumps({
            "command": "wet-export",
            "n_files": sum(1 for m in manifest if m.n_records),
            "n_records": sum(m.n_records for m in manifest),
            "n_bytes": sum(m.n_bytes for m in manifest),
            "out": args.out,
        }))
        return 0
    if args.command == "crawl":
        # crawl-ingestion tick: canonical-URL dedup vs the persisted
        # store + blocklist + main-text extraction (streaming/
        # crawl.py), then report the curated corpus.
        from hummingbird_spark.streaming.crawl import (
            start_streaming_crawl_ingest,
        )

        spark = get_spark(app_name="hummingbird_crawl")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.parquet(args.src).schema
        q = start_streaming_crawl_ingest(
            spark, args.src, args.out, args.store, schema,
            blocked_domains=tuple(args.block_domain),
            robots_path=args.robots, robots_agent=args.robots_agent,
            allow_updates=args.allow_updates)
        if not q.awaitTermination(600):
            q.stop()
            print("crawl: availableNow drain exceeded 600s; "
                  "store/out are incomplete", file=sys.stderr)
            return 1
        print(json.dumps({
            "command": "crawl",
            "blocked_domains": args.block_domain,
            "n_pages": spark.read.parquet(args.out).count(),
            "store_urls": spark.read.parquet(args.store).count(),
            "out": args.out, "store": args.store,
        }))
        return 0
    if args.command == "link-graph":
        # continuous link-graph maintenance tick: drain whatever is in
        # <src> into the postings + rare-edge stores (df-drift-exact;
        # streaming/graph.py), then report the maintained graph.
        from hummingbird_spark.streaming.graph import (
            read_link_edges,
            start_streaming_link_graph,
        )

        spark = get_spark(app_name="hummingbird_link_graph")
        spark.sparkContext.setLogLevel("ERROR")
        schema = spark.read.json(args.src).schema
        q = start_streaming_link_graph(
            spark, args.src, args.postings, args.edges, schema,
            text_col=args.text_col, id_col=args.id_col,
            min_df=args.min_df, max_df=args.max_df)
        if not q.awaitTermination(600):
            q.stop()
            print("link-graph: availableNow drain exceeded 600s; "
                  "stores are incomplete", file=sys.stderr)
            return 1
        e = read_link_edges(spark, args.edges)
        print(json.dumps({
            "command": "link-graph",
            "n_edges": e.count(),
            "n_nodes": e.selectExpr("a AS n").union(
                e.selectExpr("b AS n")).distinct().count(),
            "postings_rows": spark.read.parquet(args.postings).count(),
            "postings": args.postings, "edges": args.edges,
        }))
        return 0
    if args.command == "profile":
        # migration-assessment profiling (collstats generalized to
        # column granularity), one scan
        from hummingbird_spark.operators.profile import profile_table

        spark = get_spark(app_name="hummingbird_profile")
        spark.sparkContext.setLogLevel("ERROR")
        prof_df = profile_table(
            spark.read.parquet(args.path), exact_distinct=args.exact)
        for row in prof_df.toJSON().collect():
            print(row)
        return 0
    if args.command == "retention":
        # capped-collection enforcement (collection_creator.go:55-66):
        # explicit caps win; otherwise the table's own D1 properties
        from hummingbird_spark.operators.retention import (
            enforce_capped_from_properties,
            enforce_retention,
        )

        spark = get_spark(app_name="hummingbird_retention")
        spark.sparkContext.setLogLevel("ERROR")
        if args.max_rows is not None or args.max_bytes is not None:
            report = enforce_retention(
                spark, args.path, args.order_col,
                max_rows=args.max_rows, max_bytes=args.max_bytes,
            )
        else:
            report = enforce_capped_from_properties(
                spark, args.path, args.order_col
            )
        print(json.dumps({"command": "retention", **report}))
        return 0
    if args.command == "worker":
        cfg = MigrationConfig.from_file(args.config)
        print(json.dumps({
            "command": "worker",
            "config_valid": True,
            "namespaces": len(cfg.includes),
            "note": "Spark executors replace neutrino worker processes; "
                    "scale out with spark-submit --num-executors or "
                    "dynamic allocation, then run 'start'/'resume'.",
        }))
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
