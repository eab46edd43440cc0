package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session tuning (SURVEY.md §5) — every main
  * (Verify, Bench, Demo, tools) builds through here:
  *   - shuffle partitions match the local core count (AQE, on by default,
  *     coalesces small partitions; at cluster scale the knob is sized to
  *     2-3x total cores instead);
  *   - codegen field limit raised so the wide minhash/simhash sketch
  *     aggregates stay inside whole-stage codegen;
  *   - UTC + no UI for deterministic, headless runs;
  *   - [[GraftExtensions]] applied, so the SQL surface (cosine_sim,
  *     rhp_bucket, minhash_sig, ...) is available in every session;
  *   - [[graft.streaming.LocalCheckpointFileManager]] as the streaming
  *     checkpoint manager.
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "200")
      // the generated-class cache defaults to 100 entries; a 169-query
      // bench pass compiles several codegen units per query, so "warm"
      // passes were silently RECOMPILING evicted classes — the
      // round-10 calibration's uniform +0.1-0.2 s smear across
      // untouched queries. Size it to hold the whole surface.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // let AQE propagate a cached plan's output partitioning: operators
      // that persist a keyed frame (d2/d3/t7/p1 repartition(doc_id) +
      // persist) otherwise pay a redundant re-shuffle between the partial
      // and final aggregate over every InMemoryTableScan
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Joins (optimization guide §3.1): let the planner pick a
      // shuffled-hash join where its size conditions hold instead of
      // always sort-merge (skips both per-partition sorts), and let AQE
      // rewrite SMJ→SHJ at runtime when every post-shuffle partition is
      // under the threshold. Both knobs are SIZE-conditioned, so they
      // are scale-honest: at cluster scale an oversized build side keeps
      // sort-merge (its spill path) automatically — nothing here is a
      // local[32]-only constant.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // streaming offset and commit logs on file: paths are written with
      // java.nio instead of Hadoop's local filesystem, which forks chmod
      // and readlink per write without libhadoop (~90 ms per micro-batch)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .withExtensions(new GraftExtensions)

  /** Local session with `cores` threads; `cores` defaults to the
    * SPARK_GRAFT_CPUS env var, then 4.
    */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      quiet: Boolean = true): SparkSession = {
    val spark = builder(cores).getOrCreate()
    if (quiet) spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
