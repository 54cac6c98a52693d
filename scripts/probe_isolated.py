"""Isolated quiet-probe harness (the SCALE.md adjudication protocol).

One process, one (or few) queries, N timed reps each through the noop
sink — the tool every round's verdict-adjudication uses to decide
"plan change or host noise?". Usage:

    python scripts/probe_isolated.py ivf_index_search [more_keys...]

Env:
    SPARK_GRAFT_SF_DIR    fixture dir (default /root/testdata/sf0.1)
    PROBE_REPS            timed reps per key (default 3)

For index-backed keys the first forced run (the store build) is
untimed, mirroring bench.py's pre-build loop, so the reps measure the
amortized serving cost. Prints one JSON line per key plus loadavg
bookends.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from jaccard_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    keys = sys.argv[1:]
    if not keys:
        raise SystemExit("usage: probe_isolated.py KEY [KEY...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROBE_REPS", "3"))
    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [k for k in keys if k not in qs]
    if unknown:
        # a mistyped key in an ad-hoc adjudication run should name its
        # closest matches, not die with a bare KeyError (round-11 ADVICE)
        import difflib

        hints = {
            k: difflib.get_close_matches(k, qs, n=3, cutoff=0.4)
            for k in unknown
        }
        raise SystemExit(
            f"unknown query keys: {unknown}; close matches: {hints}; "
            f"{len(qs)} known keys — list them with "
            "python -c \"import __spark_entry__ as e; "
            "print(sorted(e.queries()))\""
        )
    spark = get_spark(app_name="probe")
    print(json.dumps({"loadavg_start": os.getloadavg()}))
    for key in keys:
        fn = qs[key]
        # untimed warm run: store build + JVM/codegen warmup
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(round(time.perf_counter() - t0, 2))
        med = sorted(samples)[len(samples) // 2]
        print(
            json.dumps(
                {
                    "key": key,
                    "samples": samples,
                    "median": med,
                    "min": min(samples),
                    "loadavg": os.getloadavg(),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
