"""Self-tests of the benchmark's corpus generator.

    python3 perfbench/selftest.py

1. The same seed gives a byte-identical corpus (and another seed does not).
2. For a small seed, the generator's per-event_type counts equal the
   events the pipeline produces, and its reject counts equal the
   dispatcher's drop counters.

Exits 0 when both hold.
"""

from __future__ import annotations

import filecmp
import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from corpus import CorpusSpec, generate, write  # noqa: E402

SMALL = CorpusSpec(validators=4, heights=3)


def same_seed_same_bytes(tmp: str) -> bool:
    spec = CorpusSpec(validators=6, heights=4)
    a = write(generate(spec, 11), os.path.join(tmp, "a"))
    b = write(generate(spec, 11), os.path.join(tmp, "b"))
    c = write(generate(spec, 12), os.path.join(tmp, "c"))
    names = sorted(os.listdir(a))
    same = names == sorted(os.listdir(b)) and all(filecmp.cmp(f"{a}/{n}", f"{b}/{n}", shallow=False) for n in names)
    differs = any(not filecmp.cmp(f"{a}/{n}", f"{c}/{n}", shallow=False) for n in names)
    return same and differs


def counts_match_pipeline(tmp: str) -> bool:
    from run import pin_environment

    pin_environment(os.path.join(tmp, "work"))
    from pyspark.sql import functions as F

    from cometbft_log_etl_spark.pipeline import etl_events
    from cometbft_log_etl_spark.session import get_spark
    from cometbft_log_etl_spark.sources.logs import read_parse_rejects

    corpus = generate(SMALL, 3)
    log_dir = write(corpus, os.path.join(tmp, "small"))
    spark = get_spark()
    try:
        ev = etl_events(spark, log_dir).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        got = Counter({r["event_type"]: r["n"] for r in ev.collect()})
        rejects = Counter()
        for r in read_parse_rejects(spark, log_dir).collect():
            rejects[r["reason"]] += r["n"]
    finally:
        spark.stop()
    if got != corpus.events:
        print(f"events differ: pipeline {dict(got)} generator {dict(corpus.events)}")
    if rejects != corpus.rejects:
        print(f"rejects differ: pipeline {dict(rejects)} generator {dict(corpus.rejects)}")
    return got == corpus.events and rejects == corpus.rejects


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench-selftest-") as tmp:
        results = {
            "same_seed_same_bytes": same_seed_same_bytes(tmp),
            "counts_match_pipeline": counts_match_pipeline(tmp),
        }
    for name, ok in results.items():
        print(f"{name}: {'ok' if ok else 'FAIL'}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
