package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale proof for the end-to-end curation pipeline (`llm/Pipeline`):
  * synthesizes an N-doc corpus exercising EVERY stage (a language family
  * that dies at langid, a punctuation family at quality, repeated-line
  * docs, exact and near duplicate pairs, decontamination victims), runs
  * `Pipeline.curate`, and records per-stage wall + survival. One JSON
  * line per corpus size into `bench_pipeline.json`; run two sizes and
  * compare stage walls for superlinearity.
  * Run: `sbt "runMain graft.tools.DrivePipelineScale [rows ...]"`. */
object DrivePipelineScale {

  def main(args: Array[String]): Unit = {
    // Shuffle files + spilled checkpoint blocks default to tmpfs (r14) so
    // the shared disk stays out of the small/mid-size measurements; for
    // the largest corpora tmpfs COMPETES with the JVM heap for the same
    // physical RAM, so `SPARK_GRAFT_LOCAL_DIR=/tmp` puts the working set
    // back on disk — which now fits: the selective banding shrank the
    // r13-era ~58 GB banded-explode checkpoint ~4x.
    val local = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      Seq("/dev/shm", "/tmp").find(p => new java.io.File(p).isDirectory).get)
    // Shuffle-partition count scales with the corpus (the brief's sizing
    // rule: partitions must fit executor memory at the target SF) — at
    // 100M docs the 32-partition default puts ~3M rows in each
    // hash-aggregate task and trips UNABLE_TO_ACQUIRE_MEMORY; 256 keeps
    // per-task state spillable. Env-tunable for the biggest runs.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "32")
    // The biggest single-JVM runs are bounded by 32 threads' simultaneous
    // task state sharing one heap with all block storage (BENCH_NOTES r14
    // 100M attempts 1-3). Two geometry knobs: fewer executor threads
    // (each task keeps its state longer but holds less heap at once), and
    // a small protected-storage fraction so execution pressure can evict
    // checkpointed stage blocks to disk instead of OOMing around them.
    val threads = sys.env.getOrElse("SPARK_GRAFT_THREADS", "32")
    val storageFrac = sys.env.getOrElse("SPARK_GRAFT_STORAGE_FRACTION", "0.5")
    // Split sizing (r15): the synthetic plant packs ~1.25M 200-char docs
    // into each default 128 MB parquet split — 13-20M exploded band rows
    // per map task at 30M docs, which shoves the near-dup bucket
    // aggregate's map-side hash past its memory cliff (probed: the
    // oversized_agg sub-step went 9.4s→82.5s for 3× rows while candidate
    // counts stayed perfectly linear — DriveNdProbe). A real corpus at
    // ~2 KB/doc carries ~60k docs per split; 16 MB splits on this dense
    // plant restore that per-task geometry. This is the brief's
    // "maxPartitionBytes sized to the SF" rule, not a plan change.
    val maxSplit = sys.env.getOrElse("SPARK_GRAFT_MAX_SPLIT", "16m")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.files.maxPartitionBytes", maxSplit)
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.memory.storageFraction", storageFrac)
      // The stage checkpoints store serialized (r14); lz4 on those blocks
      // trades CPU for the disk that bounds the biggest single-box runs.
      // Default off so the core 3M/10M/30M numbers stay comparable.
      .config("spark.rdd.compress",
        sys.env.getOrElse("SPARK_GRAFT_RDD_COMPRESS", "false"))
      .config("spark.local.dir", s"$local/graft_pipe_local")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(10000000L, 30000000L)
    val out = new StringBuilder

    def boxSteal(): Long = try {
      val ticks = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
        .split("\\s+").drop(1).map(_.toLong)
      ticks(7)
    } catch { case _: Throwable => 0L }

    sizes.foreach { n =>
      // ~21-token English-stopword-bearing body, unique per id; families:
      //  id%17=1 -> French (langid kill), id%17=2 -> punct spam (quality
      //  kill), id%17=3 -> repeated line (token shrink), id%17=4 -> exact
      //  copy of id-4 (a plain-en_good id: id-4 ≡ 0 mod 17), id%17=5 ->
      //  near-dup of id-5 (+1 token on 21 ⇒ shingle jaccard 19/20 = 0.95
      //  — past the r14 selective banding's S-curve knee, so the planted
      //  survival counts stay exact; P(miss) ~ 3e-8 per pair).
      //
      // HETEROGENEOUS templates (r15 — VERDICT r14 Next #3): the old plant
      // gave every en_good doc the SAME 14 interior shingles, so sub-cap
      // boilerplate buckets grew linearly with n and their pair mass
      // quadratically until the cap bit — the measured 10M→30M
      // superlinearity rested on the cap, not the plan. Here the interior
      // words come from Zipf-weighted TEMPLATE FAMILIES, bounded per
      // 2000-doc block: rank = floor(1000^u) (u hash-uniform ⇒ Zipf(1)
      // over 1000 ranks — the head rank holds ~10% of its block), family
      // = (block, rank). Family-mates share 14 of 19 shingles (jaccard
      // 0.583 < 0.8 — exact-verify kills every non-planted candidate),
      // and a family-canonical band key captures (14/19)^8 ≈ 8.7% of a
      // family, so the LARGEST bucket is ~0.087·200 ≈ 17 rows — two
      // orders under the cap. Candidate mass per block is constant ⇒
      // linear in n WITHOUT the cap (asserted: capped_rows == 0). The
      // family words are letter-encoded (digits would sink alpha_ratio
      // below the quality gate's 0.6).
      val i = col("id").cast("string")
      def famWord(idc: org.apache.spark.sql.Column, tag: String) = {
        val u = (pmod(xxhash64(idc, lit(31L)), lit(1000000L)).cast("double") + 0.5) /
          1000000.0
        val rank = floor(pow(lit(1000.0), u)).cast("long")
        // `/` is fractional division: floor it, or every doc is its own block.
        val fam = floor(idc.cast("long") / 2000L) * 1009L + rank
        concat(lit("s"), translate(fam.cast("string"), "0123456789",
          "abcdefghij"), lit(tag))
      }
      def enGood(idc: org.apache.spark.sql.Column) = {
        val is = idc.cast("string")
        concat(lit("w"), is,
          lit("a the "), famWord(idc, "a"), lit(" "), famWord(idc, "b"),
          lit(" "), famWord(idc, "c"), lit(" over the "), famWord(idc, "d"),
          lit(" "), famWord(idc, "e"), lit(" "), famWord(idc, "f"),
          lit(" w"), is,
          lit("b it was "), famWord(idc, "g"), lit(" that it is "),
          famWord(idc, "h"), lit(" and now w"), is, lit("c"))
      }
      val prevExact = col("id") - 4
      val prevNear = col("id") - 5
      val fam = pmod(col("id"), lit(17))
      val body = when(fam === 1, concat(lit("le chat et le chien sont dans " +
          "la maison avec les amis et la famille w"), i))
        .when(fam === 2, lit("the it was " +
          Seq("!", "?", "@", "#", "$", "%", "^").map(c => c * 20).mkString(" ")))
        .when(fam === 3, concat(
          lit("the "), famWord(col("id"), "p"), lit(" sat on the "),
          famWord(col("id"), "q"), lit(" with w"), i, lit("x\n"),
          lit("it was "), famWord(col("id"), "r"), lit(" and it is "),
          famWord(col("id"), "t"), lit(" w"), i, lit("y\n"),
          lit("it was "), famWord(col("id"), "r"), lit(" and it is "),
          famWord(col("id"), "t"), lit(" w"), i, lit("y")))
        .when(fam === 4, enGood(prevExact))
        .when(fam === 5, concat(enGood(prevNear), lit(" extra")))
        .otherwise(enGood(col("id")))
      // Materialize the input once (parquet) so stage walls measure the
      // pipeline, not the synthesis expression.
      // Plant-versioned cache dir: the r14 homogeneous plant lives at
      // graft_pipeline_scale_$n — reusing it would silently measure the
      // old corpus.
      val dir = s"/tmp/graft_pipeline_zipf_$n"
      if (!new java.io.File(dir, "_SUCCESS").exists())
        spark.range(n).toDF("id")
          .select(col("id").as("doc_id"), body.as("text"))
          .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      // LONG id expression, not a string cast: famWord hashes the column
      // value, and xxhash64(string) != xxhash64(long) — a string here
      // would put the eval copies in phantom families and decontaminate
      // nothing.
      val eval = spark.range(64).toDF("k")
        .select((col("k") + n + 7L).as("doc_id"),
          enGood(col("k") * 17 + 6).as("text"))
      // The near-dup bucket cap (linearity backstop) tightens for the
      // biggest runs: this plant shares 13 template shingles across the
      // WHOLE corpus, so sub-cap boilerplate buckets grow linearly with n
      // and their pair mass quadratically until the cap bites. Planted
      // near-dup pairs share document-specific band keys (tiny buckets),
      // so recall on them is cap-independent — verified by the exact
      // stage counts.
      val maxBucket = sys.env.get("SPARK_GRAFT_MAXBUCKET").map(_.toInt)
        .getOrElse(1000)
      val st0 = boxSteal()
      val t0 = System.nanoTime()
      val r = graft.llm.Pipeline.curate(corpus, "doc_id", "text", Some(eval),
        graft.llm.Pipeline.Config(maxBucket = maxBucket))
      val total = (System.nanoTime() - t0) / 1e9
      val st1 = boxSteal()
      val collected = r.stats.orderBy("ord").collect()
      // Planted-survival assertions (r15): every stage's row count derives
      // from the id arithmetic — cnt(k) = |{id < n : id ≡ k (mod 17)}|.
      // The linearity claim is only evidence if survival stays EXACT and
      // the cap never bit.
      def cnt(k: Long): Long = n / 17 + (if (k < n % 17) 1L else 0L)
      val expected = {
        val afterLang = n - cnt(1)
        val afterQual = afterLang - cnt(2)
        val afterExact = afterQual - cnt(4)
        val afterNear = afterExact - cnt(5)
        val afterDecon = afterNear - math.min(64L, cnt(6))
        Map("langid_filter" -> afterLang, "quality_filter" -> afterQual,
          "line_dedup" -> afterQual, "exact_dedup" -> afterExact,
          "near_dedup" -> afterNear, "decontaminate" -> afterDecon)
      }
      collected.foreach { x =>
        val stage = x.getString(1)
        expected.get(stage).foreach { want =>
          assert(x.getLong(2) == want,
            s"$stage rows_out ${x.getLong(2)} != expected $want at n=$n")
        }
        assert(x.getLong(5) == 0L,
          s"$stage capped_rows ${x.getLong(5)} != 0 at n=$n — the plant must " +
            "not lean on the bucket cap")
      }
      println(s"CHECK survival exact at n=$n (capped_rows all zero)")
      val stages = collected.map { x =>
        f"""{"stage":"${x.getString(1)}","rows_out":${x.getLong(2)},"tokens_out":${x.getLong(3)},"wall_sec":${x.getDouble(4)}%.2f,"capped_rows":${x.getLong(5)}}"""
      }.mkString("[", ",", "]")
      val line = f"""{"bench":"pipeline_zipf_${n / 1000000}m_docs","rows":$n,"total_sec":$total%.1f,"steal_sec":${(st1 - st0) / 100.0}%.1f,"stages":$stages}"""
      println(s"CHECK $line")
      out.append(line).append('\n')
      r.docs.unpersist()
    }

    val path = java.nio.file.Paths.get("bench_pipeline.json")
    val merged =
      if (!java.nio.file.Files.exists(path)) out.toString
      else {
        val fresh = out.toString.linesIterator.toSeq
        val freshNames = fresh.map(l => l.split("\"")(3)).toSet
        val kept = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .linesIterator.filter(l => l.nonEmpty && !freshNames(l.split("\"")(3)))
        (kept ++ fresh).mkString("", "\n", "\n")
      }
    java.nio.file.Files.write(path, merged.getBytes("UTF-8"))
    println(s"CHECK wrote bench_pipeline.json (${out.length} chars)")
    spark.stop()
  }
}
