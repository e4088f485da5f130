"""Record the etl_batch result-table digests for a range of seeds.

    python3 perfbench/pin.py 0 40

Runs ``run_pipeline`` once per seed on one session and writes the row
count and digest of every output table to ``expected/etl_batch.json``,
keyed by seed and tagged with the corpus spec. ``run.py`` checks each
etl_batch pass against these values. Re-pin only when the corpus spec
changes or a change is meant to alter the pipeline's output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from checks import PINNED, digest_tables  # noqa: E402
from corpus import generate, write  # noqa: E402
from etl import SPEC, spec_dict  # noqa: E402
from run import pin_environment  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("first", type=int)
    ap.add_argument("stop", type=int)
    ap.add_argument("--out", default=".perfbench")
    a = ap.parse_args(argv)
    work = os.path.abspath(os.path.join(a.out, "pin"))
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    os.chdir(work)

    from cometbft_log_etl_spark.pipeline import run_pipeline
    from cometbft_log_etl_spark.session import get_spark, persistent_rdd_ids, release_new_persists

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    doc = {"spec": spec_dict(), "seeds": {}}
    if os.path.exists(PINNED):
        with open(PINNED) as fh:
            old = json.load(fh)
        if old.get("spec") == doc["spec"]:
            doc = old
    for seed in range(a.first, a.stop):
        log_dir = write(generate(SPEC, seed), os.path.join(work, f"corpus-{seed}"))
        before = persistent_rdd_ids(spark)
        run_pipeline(spark, log_dir, out_dir=os.path.join(work, "lake"), sim_id=str(seed))
        release_new_persists(spark, before)
        root = os.path.join(work, "lake", str(seed))
        doc["seeds"][str(seed)] = digest_tables(spark, {t: f"{root}/{t}" for t in sorted(os.listdir(root))})
        shutil.rmtree(log_dir)
        print(f"seed {seed}: pinned {len(doc['seeds'][str(seed)])} tables", flush=True)
    spark.stop()
    doc["seeds"] = dict(sorted(doc["seeds"].items(), key=lambda kv: int(kv[0])))
    os.makedirs(os.path.dirname(PINNED), exist_ok=True)
    with open(PINNED, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=False)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
