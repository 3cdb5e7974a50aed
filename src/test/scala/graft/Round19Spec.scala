package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 OPTIMIZATION pins.
  *
  *  - The dense training aggregates now REQUIRE fixed-width vectors
  *    (VERDICT r18 #3 / ADVICE r18): empty/null rows contribute nothing on
  *    BOTH the dense and the explode path (a cell fed only such rows keeps
  *    its previous centroid), and ragged rows throw loudly instead of
  *    silently diverging from the explode plan.
  *  - [[graft.io.BareLocalFs]]: local writes carry no .crc sidecars, the
  *    exclusive-create and rename contracts the index lifecycles rely on
  *    still hold, and the engine session actually uses it.
  *  - [[SessionTuning]] carries the engine defaults (plan-string bound
  *    included) so library sessions inherit what the bench measured.
  */
class Round19Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withDense[T](on: Boolean)(body: => T): T = {
    val prev = sys.props.get("graft.denseAgg")
    if (on) sys.props -= "graft.denseAgg" else sys.props("graft.denseAgg") = "off"
    try body
    finally prev match {
      case Some(v) => sys.props("graft.denseAgg") = v
      case None => sys.props -= "graft.denseAgg"
    }
  }

  test("dense kmeans: empty vectors contribute nothing (== explode), ragged throws") {
    // Cell 1's only "vector" is empty: under the old dense agg its count
    // was bumped and the centroid was dragged to zeros; the explode plan
    // kept the previous centroid. Both must keep it now.
    val rows = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.2)),          // cell 0
      (2L, Seq.empty[Double]),                           // nearest to cell 1
      (3L, null.asInstanceOf[Seq[Double]]))              // null: nothing
      .toDF("id", "cv")
    val seeds = Array(Array(1.0, 0.0), Array(-5.0, -5.0))
    def cents(on: Boolean) = withDense(on) {
      graft.llm.Similarity.refineCentroids(
        rows.where(col("cv").isNotNull), "cv", seeds, iterations = 2)
    }
    val a = cents(true)
    val b = cents(false)
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, v) =>
        assert(math.abs(u - v) < 1e-9, s"dense vs explode diverged: $u vs $v") } }
    assert(a(1).sameElements(Array(-5.0, -5.0)),
      "a cell fed only an empty vector must keep its previous centroid")
  }

  private def rootMessage(t: Throwable): String = {
    var c: Throwable = t
    val sb = new StringBuilder
    while (c != null) { sb.append(String.valueOf(c.getMessage)); c = c.getCause }
    sb.toString
  }

  test("KMeansSumAgg direct: empty rows skip the count, ragged rows throw") {
    // The trainers' nearestIndex kernel nulls the cell for ragged/empty
    // vectors, so through refineCentroids both paths skip them — but the
    // aggregate is a public kernel: fed a NON-null cell with an empty
    // vector it must contribute NOTHING (the old code bumped the count and
    // dragged the centroid to zeros), and a ragged vector must throw.
    val sums = Seq((0, Seq(2.0, 4.0)), (1, Seq.empty[Double]))
      .toDF("cell", "cv")
      .agg(graft.functions.GradAggKernels.kMeansSums(
        col("cell"), col("cv").cast("array<double>"), 2, 2).as("s"))
      .collect()(0).getSeq[Double](0)
    assert(sums == Seq(2.0, 4.0, 1.0, 0.0, 0.0, 0.0),
      s"cell 1 (empty vector) must stay all-zero incl. its count, got $sums")

    val e = intercept[Exception] {
      Seq((0, Seq(0.5))).toDF("cell", "cv")
        .agg(graft.functions.GradAggKernels.kMeansSums(
          col("cell"), col("cv").cast("array<double>"), 2, 2).as("s"))
        .collect()
    }
    assert(rootMessage(e).contains("fixed-width"),
      s"expected the fixed-width require, got: ${rootMessage(e).take(300)}")
  }

  test("PqSumAgg direct: empty rows skip, ragged rows throw") {
    val sums = Seq(
      (Seq(1.0, 3.0), Seq(0, 1)),
      (Seq.empty[Double], Seq.empty[Int]))
      .toDF("cv", "codes")
      .agg(graft.functions.GradAggKernels.pqSums(
        col("cv").cast("array<double>"), col("codes").cast("array<int>"),
        m = 2, ksub = 2, subdim = 1).as("s"))
      .collect()(0).getSeq[Double](0)
    // Layout: (s,c) slots of [sum, count]: (0,0)=[1,1] (0,1)=[0,0]
    //                                      (1,0)=[0,0] (1,1)=[3,1]
    assert(sums == Seq(1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 3.0, 1.0), sums.toString)

    val e = intercept[Exception] {
      Seq((Seq(1.0), Seq(0, 1))).toDF("cv", "codes")
        .agg(graft.functions.GradAggKernels.pqSums(
          col("cv").cast("array<double>"), col("codes").cast("array<int>"),
          m = 2, ksub = 2, subdim = 1).as("s"))
        .collect()
    }
    assert(rootMessage(e).contains("fixed-width"), rootMessage(e).take(300))
  }

  test("dense pq sums: empty vectors skip, ragged throws") {
    val seeds = Seq((0L, Seq(1.0, 0.0, 0.0, 5.0)), (1L, Seq(0.0, 1.0, 5.0, 0.0)))
    def books(on: Boolean, extra: Seq[(Long, Seq[Double])]) = withDense(on) {
      graft.llm.Similarity.pqTrain((seeds ++ extra).toDF("id", "cv"),
        "id", "cv", m = 2, ksub = 2, refineIterations = 2)
    }
    // Well-formed + empty row: both paths equal (empty contributes nothing).
    val withEmpty = Seq((2L, Seq.empty[Double]))
    val a = books(true, withEmpty)
    val b = books(false, withEmpty)
    for (s <- a.indices; c <- a(s).indices; d <- a(s)(c).indices)
      assert(math.abs(a(s)(c)(d) - b(s)(c)(d)) < 1e-9,
        s"pq dense vs explode diverged at ($s,$c,$d)")
  }

  test("kMeans rejects ragged seed matrices") {
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Clustering.kMeans(vecs, "vec_id", "embedding", k = 2,
        iterations = 1,
        seedCentroids = Some(Array(Array(1.0, 0.0), Array(0.5))))
    }
    assert(e.getMessage.contains("rectangular"))
  }

  test("SessionTuning is applied to the session (plan-string bound, bare FS)") {
    assert(spark.conf.get("spark.sql.maxPlanStringLength") == "8192")
    val fs = new org.apache.hadoop.fs.Path("file:///tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.io.BareLocalFs],
      s"expected BareLocalFs for file://, got ${fs.getClass.getName}")
    // The FileContext side (streaming checkpoints) must resolve to the
    // bare AbstractFileSystem too — rename/status there forked
    // chmod/readlink per checkpoint file otherwise.
    val afs = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .getDefaultFileSystem
    assert(afs.isInstanceOf[graft.io.BareLocalAbstractFs],
      s"expected BareLocalAbstractFs for FileContext file://, got ${afs.getClass.getName}")
  }

  test("BareLocalFs: no .crc sidecars, exclusive create + rename contracts hold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_barefs").toFile
    try {
      // Parquet roundtrip with no checksum sidecars anywhere in the tree.
      val df = spark.range(100).select(col("id"), (col("id") * 2).as("x"))
      df.write.mode("overwrite").parquet(s"$dir/t")
      val back = spark.read.parquet(s"$dir/t")
      assert(back.agg(sum("x")).collect()(0).getLong(0) == 9900L)
      def crcs(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(crcs)
        else if (f.getName.endsWith(".crc")) Seq(f) else Nil
      assert(crcs(dir).isEmpty, s"found crc sidecars: ${crcs(dir)}")

      // FsText exclusive create (the sidecar-adoption contract).
      assert(graft.io.FsText.write(spark, s"$dir/meta.json", "a", overwrite = false))
      assert(!graft.io.FsText.write(spark, s"$dir/meta.json", "b", overwrite = false))
      assert(graft.io.FsText.read(spark, s"$dir/meta.json").contains("a"))

      // Rename swap (the compaction idiom).
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src = new org.apache.hadoop.fs.Path(s"$dir/t")
      val dst = new org.apache.hadoop.fs.Path(s"$dir/t2")
      assert(fs.rename(src, dst))
      assert(spark.read.parquet(dst.toString).count() == 100)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("BareLocalAbstractFs: overwriting a checksummed file drops its stale .crc") {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Options, Path}
    val dir = java.nio.file.Files.createTempDirectory("graft_barecrc").toFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val checked = new LocalFileSystem()
    checked.initialize(new java.net.URI("file:///"), conf)
    val bare = FileContext.getFileContext(
      new graft.io.BareLocalAbstractFs(new java.net.URI("file:///"), conf), conf)
    def writeChecked(p: Path, text: String): Unit = {
      val out = checked.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def writeBare(p: Path, text: String): Unit = {
      val out = bare.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def readChecked(p: Path): String = {
      val in = checked.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    try {
      // Overwrite in place (a checkpoint file rewritten after the hatch
      // was switched on).
      val f = new Path(s"$dir/offsets")
      writeChecked(f, "checksummed bytes")
      assert(new java.io.File(s"$dir/.offsets.crc").exists)
      writeBare(f, "bare bytes, a different length")
      assert(readChecked(f) == "bare bytes, a different length")

      // Rename onto a checksummed file (the temp-file-then-rename commit).
      val g = new Path(s"$dir/commit")
      writeChecked(g, "old commit")
      val tmp = new Path(s"$dir/commit.tmp")
      writeBare(tmp, "new commit!")
      bare.rename(tmp, g, Options.Rename.OVERWRITE)
      assert(readChecked(g) == "new commit!")
    } finally {
      checked.close()
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("stringArgs sweep: pq_adc summarizes its codebook") {
    val book = Array.fill(4)(Array.fill(16)(Array.fill(8)(0.25)))
    val df = spark.range(10).select(
      graft.functions.PqKernels.adcScore(
        array((0 until 4).map(_ => pmod(col("id"), lit(16)).cast("int")): _*),
        array((0 until 4 * 16).map(_ => col("id").cast("double")): _*),
        book).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("codebook[4x16]"), plan.take(400))
    assert(plan.length < 20000, s"plan string is ${plan.length} chars")
  }
}
