package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analytics.CheckpointRegistry.ckpt

/** Phase timer for the prefix-filtered similarity join:
  * `runMain graft.PpProbe <sfDir>` times token-set build, prefix
  * construction, candidate generation, and the in-row verify
  * separately (each materialized by one checkpoint job) — the
  * d_dedup_ppjoin optimization loop's instrument, in the FamilyProbe
  * mold. */
object PpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PPPROBE $name ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
    }
    import graft.pipeline.PpJoin
    val docs = Tables.documents(spark, sfDir)
    for (rep <- 1 to 2) {
      println(s"-- rep $rep")
      // each stage is timed as one materializing job
      def stage(name: String)(df: => org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        var out: org.apache.spark.sql.DataFrame = null
        t(name)({ val c = ckpt(df); out = c.df; c.rows })
        out
      }
      val sets = stage("token_sets")(PpJoin.tokenSets(docs))
      var full: org.apache.spark.sql.DataFrame = null
      t("full_build")({ full = PpJoin.similarPairs(spark, docs); 1L })
      t("full_count")(full.count())
      // piecewise: rebuild the stages the way similarPairs does
      val posts = sets.select(col("doc_id"), col("n"),
        explode(col("ts")).as("t"))
      val dfTab = posts.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val p = expr(s"n - ((${PpJoin.TauNum} * n + ${PpJoin.TauDen - 1}) div ${PpJoin.TauDen}) + 1")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
      val prefix = stage("prefix")(posts.join(dfTab, "t")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= p)
        .select(col("doc_id"), col("n"), col("t")))
      val aExp = prefix
        .withColumn("nb", explode(sequence(
          expr(s"(${PpJoin.TauNum} * n + ${PpJoin.TauDen - 1}) div ${PpJoin.TauDen}"),
          expr(s"(n * ${PpJoin.TauDen}) div ${PpJoin.TauNum}"))))
        .select(col("doc_id").as("a_id"), col("t").as("ta"), col("nb"))
      val cand = stage("candidates")(aExp
        .join(prefix.select(col("doc_id").as("b_id"), col("n").as("nb2"),
          col("t").as("tb")),
          col("ta") === col("tb") && col("nb") === col("nb2"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct())
      val sa = sets.select(col("doc_id").as("a_id"), col("ts").as("tsa"),
        col("n").as("na"))
      val sb = sets.select(col("doc_id").as("b_id"), col("ts").as("tsb"),
        col("n").as("nb"))
      t("verify")(cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("c", size(array_intersect(col("tsa"), col("tsb")))
          .cast("long"))
        .filter(col("c") * PpJoin.TauDen >=
          lit(PpJoin.TauNum) * (col("na") + col("nb") - col("c")))
        .count())
    }
    spark.stop()
  }
}
