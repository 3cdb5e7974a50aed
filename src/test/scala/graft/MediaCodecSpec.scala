package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Multimodal => M, Pipeline}

/** Every `Multimodal` transform is one [[M.MediaCodec]] column. It must
  * return what its per-row kernel returns on the same bytes, under
  * whole-stage codegen and interpreted evaluation alike, and the optimizer
  * must keep it to one evaluation per row. */
class MediaCodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sizes = (0 until 24).map(i => 32 + (i * 7) % 40)
  private def chunksFor(nf: Int): Seq[Int] =
    Seq.fill(nf / 64)(64) ++ (if (nf % 64 > 0) Seq(nf % 64) else Nil)

  /** Every media family the kernels read, plus junk, empty and null
    * payloads; each kernel also sees the other modalities' bytes. */
  private lazy val payloads: Vector[Array[Byte]] = Vector(
    M.encodeSolidImage(5, 3, 77, "png"),
    M.encodeSolidImage(4, 6, 200, "bmp"),
    M.encodeSolidImage(7, 2, 10, "gif"),
    M.encodeBlockImage(3L),
    M.encodeBlockImage(3L, side = 48, format = "jpg"),
    M.encodePcmWav(8000, 1, 300, 1234),
    M.encodePcmWav(12000, 2, 200, -500),
    M.encodePatternWav(4L),
    M.encodeToneWav(5L, toneFrames = 2048),
    M.encodeMp4Media(6L, sizes, Seq.fill(6)(4)),
    M.encodeMp4Media(7L, M.bitrateProfileFrameSizes(7L, 128, 1.0, gop = 12,
      noiseSeed = 1L), chunksFor(128)),
    M.encodeMp4Stub(600, 1200L, Seq((320, 240))),
    "junk-not-media".getBytes("UTF-8"),
    Array.emptyByteArray,
    null)

  /** `(id, payload)` built from `range`, so nothing folds on the driver. */
  private lazy val media: DataFrame = {
    val ps = payloads
    spark.range(ps.size).as[Long].map(i => (i, ps(i.toInt))).toDF("id", "payload")
  }

  private def modes(body: => Unit): Unit =
    for ((wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  /** `out` of `transformed`, by id. */
  private def byId(transformed: DataFrame, out: String): Map[Long, Any] =
    transformed.select(col("id"), col(out)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.get(1))).toMap

  private def assertKernel(what: String, transformed: => DataFrame, out: String)(
      kernel: Array[Byte] => Any)(same: (Any, Any) => Boolean = _ == _): Unit = modes {
    val got = byId(transformed, out)
    assert(got.size == payloads.size, what)
    payloads.indices.foreach { i =>
      val want = if (payloads(i) == null) null else kernel(payloads(i))
      val g = got(i.toLong)
      assert((g == null && want == null) || (g != null && want != null && same(g, want)),
        s"$what: row $i got $g, kernel gives $want")
    }
    // The corpus must exercise both outcomes, or the check says little.
    assert(got.values.exists(_ == null) && got.values.exists(_ != null), what)
  }

  private def longOf(v: Any): Any = v match {
    case l: java.lang.Long => l.longValue()
    case other => other
  }

  test("every codec kind returns its per-row kernel's value, junk and null payloads included") {
    val sketches = Seq[(String, Array[Byte] => java.lang.Long, DataFrame => DataFrame, String)](
      ("phash", M.pHashOne, M.pHashImages(_, "payload"), "phash"),
      ("audio_energy", M.audioHashOne, M.audioHashes(_, "payload"), "ahash"),
      ("audio_spectral", M.audioSpectralHashOne, M.audioSpectralHashes(_, "payload"), "shash"),
      ("video_payload", M.videoHashOne, M.videoHashes(_, "payload"), "vhash"),
      ("video_profile", M.videoSizeProfileHashOne,
        M.videoSizeProfileHashes(_, "payload"), "vphash"))
    sketches.foreach { case (kind, kernel, transform, out) =>
      assertKernel(kind, transform(media), out)(b => longOf(kernel(b)))()
      assertKernel(s"mediaSketch64 $kind",
        media.withColumn("h", M.mediaSketch64(col("payload"), kind)), "h")(
        b => longOf(kernel(b)))()
    }
    assertKernel("decodeImages", M.decodeImages(media, "payload"), "decoded")(M.decodeOne)()
    assertKernel("decodeAudio", M.decodeAudio(media, "payload"), "decoded_audio")(
      M.decodeAudioOne)()
    assertKernel("decodeVideoMeta", M.decodeVideoMeta(media, "payload"), "decoded_video")(
      M.parseMp4Meta)()
    assertKernel("resizeImages", M.resizeImages(media, "payload", 6, 4, "png"), "resized")(
      M.resizeOne(_, 6, 4, "png"))((a, b) =>
      java.util.Arrays.equals(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
    assertKernel("resizeImages bmp", M.resizeImages(media, "payload", 5, 5, "bmp"), "resized")(
      M.resizeOne(_, 5, 5, "bmp"))((a, b) =>
      java.util.Arrays.equals(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
    assertKernel("video profile features",
      M.videoProfileFeatures(media, "id", "payload")
        .select(col("id"), when(col("__vphash").isNotNull, struct(col("__vphash"),
          col("__vpranks"), col("__vpr2"), col("__vpcell"))).as("f")), "f")(
      b => M.videoProfileParse(b) match {
        case null => null
        case p =>
          val r2 = M.profileRank2Of(p.medians)
          (M.profileBitsOf(p.medians), M.profileRanksOfR2(r2).toSeq, r2.toSeq,
            M.profileCellOf(p.durSec, p.nSamples))
      }) { (got, want) =>
      val r = got.asInstanceOf[Row]
      (r.getLong(0), r.getSeq[Double](1), r.getAs[Array[Byte]](2).toSeq, r.getLong(3)) == want
    }
  }

  /** The codec nodes left in `df`'s optimized plan. */
  private def codecNodes(df: DataFrame): Seq[M.MediaCodec] =
    df.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case c: M.MediaCodec => c }))

  test("a transform followed by a null filter plans its codec once, inside codegen") {
    // Control: on this Spark a deterministic per-row function under a null
    // filter is copied into the filter, so the shape below does catch
    // duplication.
    val probe = udf((b: Array[Byte]) =>
      if (b == null || b.length < 4) null else java.lang.Long.valueOf(b.length))
    val control = media.withColumn("h", probe(col("payload"))).where(col("h").isNotNull)
    assert(control.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })).size == 2)

    val cfg = Pipeline.ImageConfig(targetW = 8, targetH = 8)
    val shapes = Seq[(String, DataFrame)](
      "pHashImages" -> M.pHashImages(media, "payload").where(col("phash").isNotNull),
      "audioHashes" -> M.audioHashes(media, "payload").where(col("ahash").isNotNull),
      "audioSpectralHashes" ->
        M.audioSpectralHashes(media, "payload").where(col("shash").isNotNull),
      "videoHashes" -> M.videoHashes(media, "payload").where(col("vhash").isNotNull),
      "videoSizeProfileHashes" ->
        M.videoSizeProfileHashes(media, "payload").where(col("vphash").isNotNull),
      "decodeImages" -> M.decodeImages(media, "payload").where(col("decoded").isNotNull),
      "decodeAudio" -> M.decodeAudio(media, "payload").where(col("decoded_audio").isNotNull),
      "decodeVideoMeta" ->
        M.decodeVideoMeta(media, "payload").where(col("decoded_video").isNotNull),
      "resizeImages" -> M.resizeImages(media, "payload", 6, 4).where(col("resized").isNotNull),
      "video profile features" ->
        M.videoProfileFeatures(media, "id", "payload").where(col("__vphash").isNotNull),
      "curate decode_phash / img_decode" ->
        Pipeline.decodeStage(media, "payload", "phash", "phash"),
      "aud_decode" -> Pipeline.decodeStage(media, "payload", "audio_spectral", "ahash"),
      "vid_decode" -> Pipeline.decodeStage(media, "payload", "video_payload", "vhash"),
      "resize / img_resize" -> Pipeline.resizeStage(media, "payload", cfg))
    shapes.foreach { case (what, df) =>
      val nodes = codecNodes(df)
      assert(nodes.size == 1, s"$what plans ${nodes.size} codec nodes:\n" +
        df.queryExecution.optimizedPlan.treeString)
      assert(PlanShape(df).kernelInCodegen(nodes.head.prettyName), what)
      assert(df.count() > 0, what)
    }
  }
}
