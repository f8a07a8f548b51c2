package graft

import org.apache.spark.sql.SparkSession

/** One place to build engine sessions so Verify/Bench/tests/CLI agree
  * on the configs that matter for correctness and local-mode speed. */
object Sessions {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      // shuffle partitions sized to local cores, not the 200 default
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE: runtime join-strategy selection (the SF-scaling dims the
      // queries deliberately leave unhinted), partition coalescing,
      // and skew-join splitting. skewJoin defaults on with AQE — set
      // explicitly because the engine's skew posture (SCALE.md) names
      // it as the second line of defense behind salting.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // bound plan-string rendering: iterative plans (dedup clustering)
      // can grow large trees, and every execution/AQE listener event
      // renders the plan — the default (unbounded) lets one deep plan
      // OOM the driver on STRING BUILDING alone
      .config("spark.sql.maxPlanStringLength", "100000")
      // events.parquet is TIMESTAMP(NANOS); Spark 4 reads it only as a
      // raw long behind this flag (normalized back in queries.Tables)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables here exist to exploit their layout (zero-
      // exchange probes, bucket-pruned term lookups). The auto mode
      // lets DisableUnnecessaryBucketedScan un-bucket any scan whose
      // partitioning no operator consumes — which also forfeits bucket
      // PRUNING, turning an O(one bucket) point lookup back into a
      // full-table scan. Pinned off.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
