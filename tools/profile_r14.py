"""Round-14 optimization harness: standalone per-query wall samples
(noop sink — guide §1.4) + formatted-plan capture.

Usage:
    python tools/profile_r14.py plans [query ...]     # capture explain("formatted") -> plans/r14/<q>_<tag>.txt
    python tools/profile_r14.py time  [query ...]     # N standalone noop-sink samples per query
Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    R14_TAG              plan-file suffix (default "before")
    R14_SAMPLES          samples per query for `time` (default 3)

Timing here uses the noop sink (computes every column, discards the
write) so it measures the computation, not driver materialization —
bench.py keeps its own persist+count+collect methodology for
driver-comparable numbers; this tool is for isolating/attributing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garden_net_backend_spark.queries import CATALOG  # noqa: E402
from garden_net_backend_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("R14_TAG", "before")
N = int(os.environ.get("R14_SAMPLES", "3"))
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or list(CATALOG)
    spark = get_session("profile_r14")
    # warm JVM + python worker pool once (bench.py discipline)
    CATALOG["q01_pricing_summary"].spark_fn(spark, SF_DIR).collect()
    spark.range(0, 1 << 15, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    if mode == "plans":
        os.makedirs(OUT_DIR, exist_ok=True)
        for name in names:
            df = CATALOG[name].spark_fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(OUT_DIR, f"{name}_{TAG}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} chars)")
        return
    import gc

    for name in names:
        samples = []
        for _ in range(N):
            spark.sparkContext.setJobDescription(f"r14 profile: {name}")
            t0 = time.time()
            df = CATALOG[name].spark_fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            gc.collect()
        print(f"{name}: min={min(samples)} samples={samples}", flush=True)


if __name__ == "__main__":
    main()
