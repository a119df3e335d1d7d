"""Benchmark: the crawl-stats suite and a compacting frontier run.

    python3 perfbench/run.py --workload stats_suite --seed 0 --seconds 40 --trace 0

Run from the root of a checkout. Each invocation is one fresh
``local[<cpus>]`` Spark process driven by one thread (a closed loop with
one client). Inputs are generated from ``--seed`` (perfbench/gen.py) and
cached under ``.perfbench_work/``; Spark's local dir, the snapshot store
and the event log live there too and are removed at exit.

Every workload does a fixed amount of work, sized so that one run measures
about ``--seconds`` on a 4-core box; the flag bounds nothing.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (perfbench/tracing.py). Output checks run
outside the timed region; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 1
when a check fails, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = len(os.sched_getaffinity(0))
LAYER_SUM_TOLERANCE = 0.05  # ROADMAP D1: layers add up to the round wall ±5%


def _load(name: str) -> dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Run:
    """Counts operations and failed checks of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, label: str, fn):
        """Run one operation; a raised exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.fail(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check {label} failed {detail}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(msg, file=sys.stderr)


def digest_columns(df):
    """Aggregates of an order-insensitive value digest of ``df``: the row
    count and the summed xxhash64 of every row (columns in name order)."""
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    )


def digest(row) -> str:
    return f"{row['n']}:{row['h']}"


def register_inputs(spark, info: dict):
    """Open the generated tables: ``documents`` as a view, pages returned.
    Done three times; the median is the registration part of setup_s."""
    times, pages = [], None
    for _ in range(3):
        t0 = time.time()
        spark.read.parquet(os.path.join(info["dir"], "documents")) \
            .createOrReplaceTempView("documents")
        pages = spark.read.parquet(os.path.join(info["dir"], "pages"))
        times.append(time.time() - t0)
    return pages, statistics.median(times)


# ---------------------------------------------------------------- stats suite

def stats_suite(spark, info, args, run: Run, tracer) -> tuple[dict, dict]:
    from pyspark.sql import Observation

    import suite

    pages, reg_s = register_inputs(spark, info)
    sc = spark.sparkContext
    q_times, digests, windows = {}, {}, {}
    t_pass = time.time()
    for name, (lay, build) in suite.QUERIES.items():
        def execute(name=name, build=build):
            df = build(pages)
            # the value digest is collected by the timed write itself (one
            # 64-bit hash per output row) and checked afterwards
            obs = Observation(name)
            df = df.observe(obs, *digest_columns(df))
            df.write.format("noop").mode("overwrite").save()
            return obs

        t0 = time.time()
        if tracer:
            sc.setJobGroup(name, name)
            with tracer.span("query", query=name, layer=lay):
                obs = run.op(name, execute)
        else:
            obs = run.op(name, execute)
        q_times[name] = time.time() - t0
        windows.setdefault(lay, []).append((t0, time.time()))
        if obs is not None:
            digests[name] = digest(obs.get)
    work_s = time.time() - t_pass

    n_urls = check_stats(spark, info, args, digests, run)
    in_bytes, _ = _du(info["dir"])
    e2e = {
        "setup_s": args.session_s + reg_s,
        "work_s": work_s,
        "op_p50_s": statistics.median(q_times.values()),
        "urls_per_s": n_urls / work_s,
        "store_bytes_per_url": in_bytes / n_urls,
    }
    layer = {}
    if tracer:
        layer["trace.work_s"] = work_s
        for name, (lay, _) in suite.QUERIES.items():
            layer[f"q.{name}_s"] = q_times[name]
            layer[f"layer.{lay}_s"] = layer.get(f"layer.{lay}_s", 0.0) + q_times[name]
        layer["_windows"] = windows
    return e2e, layer


def check_stats(spark, info, args, digests, run: Run) -> int:
    """Recorded digests, and a DuckDB recount of crawl_size and host_counts
    (fetches, pages, URLs, digests, hosts, domains per crawl; pages and
    URLs per host) digested like the timed outputs. Returns distinct
    URLs."""
    import duckdb

    import suite

    recorded = _load("expected.json")["stats_suite"].get(str(args.seed))
    if recorded is None:
        print(f"no recorded digests for seed {args.seed}", file=sys.stderr)
    else:
        for name in suite.QUERIES:
            got, want = digests.get(name), recorded.get(name)
            run.check(f"digest {name}", got == want, f"{got} != {want}")
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute(
            "CREATE VIEW p AS SELECT *, status = 200 AND warc_filename NOT "
            "LIKE '%/robotstxt/%' AS is_page FROM read_parquet("
            f"'{os.path.join(info['dir'], 'pages')}/*.parquet')"
        )
        n_urls = con.execute("SELECT count(DISTINCT url) FROM p").fetchone()[0]
        recounts = {
            "crawl_size": (
                "SELECT crawl, count(*), count(*) FILTER (is_page), "
                + ", ".join(
                    f"count(DISTINCT {c}) FILTER (is_page)"
                    for c in ("url", "digest", "host", "domain")
                )
                + " FROM p GROUP BY crawl",
                "crawl string, fetches bigint, pages bigint, urls bigint, "
                "digests bigint, hosts bigint, domains bigint",
            ),
            "host_counts": (
                "SELECT crawl, host, count(*), count(DISTINCT url) FROM p "
                "WHERE is_page GROUP BY crawl, host",
                "crawl string, host string, pages bigint, urls bigint",
            ),
        }
        for name, (sql, schema) in recounts.items():
            df = spark.createDataFrame(con.execute(sql).fetchall(), schema)
            want = digest(df.agg(*digest_columns(df)).first())
            got = digests.get(name)
            run.check(f"{name} = DuckDB recount", got == want, f"{got} != {want}")
    finally:
        con.close()
    return n_urls


# ------------------------------------------------------------------ frontier

def frontier(spark, info, args, run: Run, tracer) -> tuple[dict, dict]:
    from cc_crawl_statistics_spark.frontier import scheduler
    from cc_crawl_statistics_spark.frontier.state import SnapshotStore

    import tracing as T

    w = args.spec["args"]
    pages, reg_s = register_inputs(spark, info)
    root = os.path.join(args.run_dir, "store")
    store = T.traced_store(tracer, root) if tracer else SnapshotStore(root)
    kw = dict(
        n_partitions=CPUS,
        n_salts=w["n_salts"],
        compact_every=w["compact_every"],
        bloom_min_seen=w["bloom_min_seen"],
    )
    sc = spark.sparkContext
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    rounds = []
    with T.traced_bloom_build(tracer) if tracer else contextlib.nullcontext():
        if tracer:
            sc.setJobGroup("seed", "seed")
        t0 = time.time()
        with span("seed") as seed_rec:
            seeded = run.op(
                "seed round",
                lambda: scheduler.run_round(spark, store, info["dir"], pages=pages, **kw),
            )
        seed_s = time.time() - t0
        for i in range(w["timed_rounds"] if seeded else 0):
            tm = {} if tracer else None
            if tracer:
                sc.setJobGroup(f"round{i + 2}", f"round{i + 2}")
            t0 = time.time()
            with span("round") as rec:
                m = run.op(
                    f"round {i + 2}",
                    lambda: scheduler.run_round(
                        spark, store, info["dir"], timings=tm, **kw
                    ),
                )
            if m is None:
                break
            rounds.append({"wall": time.time() - t0, "m": m, "tm": tm, "span": rec})
    if not rounds:
        raise RuntimeError("no frontier round completed")

    latest = check_frontier(spark, store, info, args, run, len(rounds) + 1)
    n_seen = store.manifest(latest)["metrics"]["n_seen"]
    store_bytes, store_files = _du(root)
    walls = [r["wall"] for r in rounds]
    work_s = sum(walls)
    n_sched = sum(r["m"]["n_scheduled"] for r in rounds)
    e2e = {
        "setup_s": args.session_s + reg_s + seed_s,
        "work_s": work_s,
        "op_p50_s": statistics.median(walls),
        "urls_per_s": n_sched / work_s,
        "store_bytes_per_url": store_bytes / n_seen,
    }
    layer = {}
    if tracer:
        layer = frontier_layers(tracer, rounds, root, store_files)
        run.check(
            "layer sum",
            layer["trace.layer_residual_max_pct"] <= 100 * LAYER_SUM_TOLERANCE,
            f"{layer['trace.layer_residual_max_pct']:.2f}% of a round unattributed",
        )
        layer["sched.seed_s"] = seed_s
        layer["trace.work_s"] = work_s
        layer["seen.discovery_permille"] = (
            sum(r["m"]["n_discovered_new"] for r in rounds) * 1000 / n_sched
        )
        layer["_windows"] = {
            "seed": [(seed_rec["start"], seed_rec["end"])],
            "round": [(r["span"]["start"], r["span"]["end"]) for r in rounds],
        }
    return e2e, layer


# The per-layer metric each store method's span time is reported under.
# Every other store method is metadata (manifests, base-round lookups, row
# counts, prefilter paths) and reports under state.manifest_s.
STATE_METRIC = {
    "state.read_frontier": "state.read_frontier_s",
    "state.read": "state.read_s",
    "state.read_seen": "state.read_seen_s",
    "state.read_seen_deltas": "state.read_seen_s",
    "state.reopen_seen": "state.read_seen_s",
    "state.commit": "state.commit_s",
    "state.compact_frontier": "state.compact_frontier_s",
}


def frontier_layers(tracer, rounds, root, store_files) -> dict:
    """Per-layer sums over the timed rounds, from the span tree and
    run_round(timings=). A span's self time is its duration minus its
    children's.

    sched.outside_commit_s is round wall minus the store calls (compaction
    included) the round made directly. The layers a round's wall is
    attributed to are those store calls, with the commit replaced by the
    program's own split of it (the table writes and the metrics pass from
    timings=). The round's remainder, wall minus outside_commit minus the
    attributed layers, is the commit time those timings do not cover; it
    is reported per round and never folded into a layer. ``_rounds`` holds
    the per-round split for the trace file."""
    spans = tracer.spans
    idx = {id(s): i for i, s in enumerate(spans)}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def subtree(i):
        out = []
        for c in kids.get(i, []):
            out.append(c)
            out += subtree(idx[id(c)])
        return out

    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    per_round, plain, probed = [], [], []
    for n, r in enumerate(rounds, start=2):
        ri = idx[id(r["span"])]
        wall, tm = dur(r["span"]), r["tm"]
        top = kids.get(ri, [])
        outside = wall - sum(dur(s) for s in top)
        add("sched.outside_commit_s", outside)
        for s in top:
            if s["name"].startswith("state.") and s["name"] != "state.compact_seen":
                add(STATE_METRIC.get(s["name"], "state.manifest_s"), dur(s))
        for s in subtree(ri):
            if s["name"] in ("state.compact_seen", "prefilter.build"):
                self_t = dur(s) - sum(dur(c) for c in kids.get(idx[id(s)], []))
                add(f"{s['name']}_s", self_t)
            if s["name"] == "state.compact_seen":
                add("state.compactions", 1)
        commit_timed = tm.get("c_writes_wall", 0.0) + tm.get("c_metrics", 0.0)
        attributed = commit_timed + sum(
            dur(s) for s in top if s["name"] != "state.commit"
        )
        remainder = wall - outside - attributed
        per_round.append({
            "round": n,
            "wall_s": wall,
            "outside_commit_s": outside,
            "attributed_s": attributed,
            "remainder_s": remainder,
            "residual_pct": 100 * abs(remainder) / wall,
        })
        add("state.writes_wall_s", tm.get("c_writes_wall", 0.0))
        for t in ("schedule", "blocked", "frontier_delta", "url_seen_delta", "round_stats"):
            add(f"state.write.{t}_s", tm.get(f"c_write_{t}", 0.0))
        # the plain / probed split compares discovery paths, net of compaction
        net = wall - sum(
            dur(s) for s in top
            if s["name"] in ("state.compact_seen", "state.compact_frontier")
        )
        if "bloom_load" in tm:
            add("prefilter.load_s", tm["bloom_load"])
            add("prefilter.probed_rounds", 1)
            probed.append(net)
        else:
            plain.append(net)
    per_table = sum(out.get(f"state.write.{t}_s", 0.0) for t in (
        "schedule", "blocked", "frontier_delta", "url_seen_delta", "round_stats"))
    out["state.write_overlap"] = per_table / max(out["state.writes_wall_s"], 1e-9)
    out["state.store_files"] = store_files
    out["prefilter.bytes"] = sum(
        _du(os.path.join(d, f))[0]
        for d, subdirs, _ in os.walk(root)
        for f in subdirs if f.startswith("url_seen_bloom")
    )
    out["sched.plain_round_p50_s"] = statistics.median(plain) if plain else 0.0
    out["sched.probed_round_p50_s"] = statistics.median(probed) if probed else 0.0
    out["trace.layer_residual_max_pct"] = max(p["residual_pct"] for p in per_round)
    out["_rounds"] = per_round
    return out


def check_frontier(spark, store, info, args, run: Run, n_rounds: int) -> int:
    """Per-round schedule digests against the independent model and the
    recorded list, the per-host budget, and n_seen against the distinct
    keys of read_seen. Returns the last committed round."""
    from urllib.parse import urlparse

    import pandas as pd
    import pyarrow.parquet as pq

    import model

    latest = store.latest_round()
    run.check("rounds committed", latest == n_rounds, f"{latest} != {n_rounds}")
    want = model.replay(info["url_of_doc"], info["host_pool"], latest)
    recorded = _load("expected.json")["frontier"].get(f"{info['factor']}/{args.seed}")
    # the schedules are budget-bounded: read the files behind store.read
    # in this process instead of running a Spark job
    sched = pd.concat(
        pq.read_table(
            [urlparse(f).path for f in store.read(spark, r, "schedule").inputFiles()],
            columns=["round", "url", "host", "rank"],
            partitioning=None,  # the store's round=NNNN dirs are not hive keys
        ).to_pandas()
        for r in range(1, latest + 1)
    )
    for r in range(1, latest + 1):
        rows = sched[sched["round"] == r]
        got = model.schedule_digest(rows.url, rows["rank"])
        run.check(f"round {r} schedule = model", got == want["digests"][r - 1])
        if recorded is not None and r <= len(recorded):
            run.check(f"round {r} schedule = recorded", got == recorded[r - 1])
    ledger = store.read(spark, 0, "host_ledger").toPandas()
    per_host = sched.groupby(["round", "host"]).size().rename("n").reset_index()
    over = per_host.merge(ledger, on="host", how="left")
    over = over[~(over.n <= over.max_per_round)]
    run.check("host budgets", over.empty, over.head().to_string())
    n_seen = store.manifest(latest)["metrics"]["n_seen"]
    distinct = store.read_seen(spark, latest).select("seen_key").distinct().count()
    run.check("n_seen = distinct read_seen", n_seen == distinct, f"{n_seen} != {distinct}")
    run.check("n_seen = model", n_seen == want["n_seen"], f"{n_seen} != {want['n_seen']}")
    return latest


WORKLOADS = {"stats_suite": stats_suite, "frontier_compacting": frontier}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import cc_crawl_statistics_spark  # noqa: F401
    except ImportError as e:
        print(f"the package under test is missing: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    import gen

    args.spec = _load("spec.json")["workloads"][args.workload]
    args.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(args.run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # keep shuffle files in the checkout
    info = gen.generate(WORK, args.seed, args.spec["args"]["factor"])

    from cc_crawl_statistics_spark.session import get_spark

    import tracing as T

    tracer = T.Tracer() if args.trace else None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(args.run_dir, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    log_dir = os.path.join(args.run_dir, "eventlog")
    if tracer:
        conf.update(T.event_log_conf(log_dir))
    run = Run()
    t0 = time.time()
    spark = get_spark(app_name="perfbench", cores=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
    args.session_s = time.time() - t0
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    try:
        e2e, layer = WORKLOADS[args.workload](spark, info, args, run, tracer)
        if tracer:
            layer.update(T.memory(jvm.pid))
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    try:
        if tracer:
            layer.update(T.spark_costs(log_dir, layer.pop("_windows")))
            layer["session.start_s"] = args.session_s
            # a layer the workload does not run reads 0
            out = {
                m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]
            }
            trace = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace, rounds=layer.get("_rounds", []), metrics=out)
            print(f"trace written to {trace}", file=sys.stderr)
        else:
            out = {
                m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                for m in bench["end_to_end"]
            }
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
