"""Capture `.explain("formatted")` for declared queries into plans/<round>/.

Usage: python tools/capture_plans.py before|after q250_dup_cluster_stats ...
The round directory defaults to r14; override with $SPARK_GRAFT_PLANS_ROUND.

Runs each query builder in a bench-equivalent engine session (the session
whose plans the bench actually executes) and writes the FINAL frame's
formatted physical plan to plans/<round>/<query>_<tag>.txt.

Queries whose construction eagerly materializes intermediates
(``localCheckpoint``) hide their interior join/Exchange tree from an
after-the-fact explain — the caller only ever sees a checkpoint scan
(VERDICT r13 item 6: the r13 q233/q27/q250 dumps were vacuous for exactly
this reason). During capture, ``DataFrame.localCheckpoint`` is wrapped so
every frame's formatted plan is recorded immediately BEFORE the checkpoint
erases it; the interior plans are appended to the query's plan file in
materialization order. The wrap exists only inside this tool — the timed
bench path is untouched.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND
)


def _formatted(df) -> str:
    from bigdatafraude_ml_graphx_spark.plans import formatted_plan

    return formatted_plan(df)


def main() -> None:
    # Spark 4 splits pyspark.sql.DataFrame into an abstract base + the
    # concrete classic class; patch the concrete one so instance method
    # lookup actually hits the wrapper.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3.x
        from pyspark.sql import DataFrame

    from bigdatafraude_ml_graphx_spark import get_spark
    from bigdatafraude_ml_graphx_spark import registry as q

    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")

    interior: list[tuple[str, str]] = []
    orig_ckpt = DataFrame.localCheckpoint

    def recording_ckpt(self, *args, **kwargs):
        eager = kwargs.get("eager", args[0] if args else True)
        try:
            interior.append((f"localCheckpoint(eager={eager})", _formatted(self)))
        except Exception as exc:  # capture must never change behavior
            interior.append(("localCheckpoint(<plan capture failed>)", str(exc)))
        return orig_ckpt(self, *args, **kwargs)

    for name in names:
        interior.clear()
        DataFrame.localCheckpoint = recording_ckpt
        try:
            df = q.QUERIES[name](spark, SF)
            captured = list(interior)
        finally:
            DataFrame.localCheckpoint = orig_ckpt
        parts = [_formatted(df)]
        for i, (label, plan_text) in enumerate(captured):
            parts.append(
                f"\n\n==== interior #{i} (pre-checkpoint) {label} ====\n"
                f"{plan_text}"
            )
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write("".join(parts))
        print(f"wrote {path} ({sum(map(len, parts))} bytes)")
        spark.catalog.clearCache()
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rdd in list(jmap.values()):
                rdd.unpersist()
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()
