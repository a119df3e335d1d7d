"""Record the expected output digests that run.py checks against.

    python3 perfbench/record.py --seeds 0-49

For each seed: the stats-suite query digests (count and summed xxhash64
of every output row, as run.py's timed pass collects them), computed by
the engine in one warm session, and the frontier schedule digests per
round from the independent model (perfbench/model.py). Writes
perfbench/expected.json. Re-record only when the inputs or the expected
outputs change on purpose.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="0-49", help="inclusive range a-b")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = run.ROOT
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")

    import gen
    import model
    import suite

    from cc_crawl_statistics_spark.session import get_spark

    spec = run._load("spec.json")["workloads"]
    fr = spec["frontier_compacting"]["args"]
    path = os.path.join(run.HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    for seed in range(lo, hi + 1):
        n_docs = gen.N_BASE_DOCS * fr["factor"]
        rep = model.replay(
            gen.permutations(seed, n_docs)[1], gen.host_pool(fr["factor"]),
            fr["timed_rounds"] + 1,
        )
        expected["frontier"][f"{fr['factor']}/{seed}"] = rep["digests"]

    spark = get_spark(
        app_name="perfbench-record", cores=run.CPUS, shuffle_partitions=run.CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run.WORK, "record-local"),
        },
    )
    try:
        for seed in range(lo, hi + 1):
            info = gen.generate(run.WORK, seed, spec["stats_suite"]["args"]["factor"])
            pages, _ = run.register_inputs(spark, info)
            digests = {}
            for name, (_, build) in suite.QUERIES.items():
                df = build(pages)
                digests[name] = run.digest(df.agg(*run.digest_columns(df)).first())
            expected["stats_suite"][str(seed)] = digests
            with open(path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
            print(f"seed {seed} recorded", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
