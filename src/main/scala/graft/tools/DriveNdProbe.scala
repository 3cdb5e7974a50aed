package graft.llm // private Dedup internals are probed step-by-step

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Attribution probe for the near-dup stage's 10M→30M scaling on the
  * heterogeneous zipf plant (r15): replays `Dedup.nearDupMinHash`'s
  * internals as SEPARATE eager steps over the cached plant parquet, so
  * each sub-step's wall and cardinality land on stdout — the stage's
  * one fused materialization hides where a superlinear term lives.
  * Measurement-only tool; the shipped operator is untouched. */
object DriveNdProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(10000000L, 30000000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.rdd.compress", "true")
      .config("spark.local.dir", "/dev/shm/graft_ndprobe_local")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val Ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

    sizes.foreach { n =>
      val dir = s"/tmp/graft_pipeline_zipf_$n"
      require(new java.io.File(dir, "_SUCCESS").exists(), s"run DrivePipelineScale $n first")
      def t[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        println(f"CHECK n=$n $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
        r
      }
      // Untimed prefix: reproduce the near-dup stage's input (post
      // exact-dedup survivors), checkpointed eagerly.
      val idCol = "doc_id"; val textCol = "text"
      var cur = spark.read.parquet(dir).where(col(textCol).isNotNull)
        .withColumn(textCol, graft.functions.NormalizeKernel.nfkc(
          graft.functions.MojibakeKernel.fixMojibake(col(textCol))))
        .withColumn(textCol, graft.functions.HtmlKernel.htmlToText(col(textCol)))
        .where(trim(col(textCol)) =!= "")
        .where(TextAnalysis.languageId(col(textCol)).isin("en"))
        .where(TextAnalysis.qualityKeep(col(textCol), 0.7, 5))
        .withColumn(textCol, TextAnalysis.removeRepeatedLines(col(textCol)))
        .where(trim(col(textCol)) =!= "")
      cur = Dedup.exactKeepFirst(
        cur.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
        Seq("__fp"), idCol).drop("__fp").localCheckpoint(true, Ser)
      println(s"CHECK n=$n near-dup input rows: ${cur.count()}")

      // nearDupMinHash internals, eager step by step (16 bands x 8 rows,
      // the pipeline's auto-derived operating point; maxBucket 1000).
      val bands = 16; val rowsPerBand = 8
      val banded = t("band_explode_checkpoint") {
        val b = Dedup.minHashSignatures(cur, idCol, textCol, 128, 3)
          .select(col("id"), explode(
            Dedup.lshBandKeys(col("sig"), bands, rowsPerBand)).as("bandkey"))
          .select("id", "bandkey")
          .localCheckpoint(true, Ser)
        b.count(); b
      }
      val oversized = t("oversized_agg") {
        val o = banded.groupBy("bandkey").agg(count(lit(1)).as("__bsize"))
          .where(col("__bsize") > 1000).localCheckpoint(true)
        println(s"CHECK n=$n oversized buckets: ${o.count()}")
        o
      }
      val bucketed = banded.join(oversized.select("bandkey"), Seq("bandkey"), "left_anti")
      val candidates = t("selfjoin_distinct_checkpoint") {
        val c = bucketed.select(col("bandkey"), col("id").as("id_a"))
          .join(bucketed.select(col("bandkey"), col("id").as("id_b")), Seq("bandkey"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct().localCheckpoint(true, Ser)
        println(s"CHECK n=$n candidate pairs: ${c.count()}")
        c
      }
      val ids = t("candidate_ids_distinct") {
        val i = candidates.select(col("id_a").as(idCol))
          .unionByName(candidates.select(col("id_b").as(idCol))).distinct()
          .localCheckpoint(true)
        println(s"CHECK n=$n candidate docs: ${i.count()}")
        i
      }
      val sets = t("shingle_sets_checkpoint") {
        val s2 = Dedup.minHashSignatures(
          cur.join(ids, Seq(idCol), "left_semi"), idCol, textCol, 128, 3)
          .select(col("id"), col("sh")).localCheckpoint(true, Ser)
        s2.count(); s2
      }
      t("verify_join_losers") {
        val pairs = candidates
          .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
          .where(col("j") >= 0.8)
        println(s"CHECK n=$n verified pairs: ${pairs.count()}")
      }
      org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(cur)
        .foreach(_.unpersist(blocking = false))
      Seq(banded, oversized, candidates, ids, sets).foreach(df =>
        org.apache.spark.sql.graftshim.GraftSql.checkpointedRdd(df)
          .foreach(_.unpersist(blocking = false)))
    }
    spark.stop()
  }
}
