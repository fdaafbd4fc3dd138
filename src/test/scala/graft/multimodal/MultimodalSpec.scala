package graft.multimodal

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Sources
import graft.catalog.Shared.deleteAtExit

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = deleteAtExit(Files.createTempDirectory("media"))
    (1 to 6).foreach { i =>
      val label = if (i % 2 == 0) "dog" else "cat"
      Files.write(Paths.get(d.toString, s"$label.$i.jpg"), Array.fill[Byte](32 + i)(i.toByte))
    }
    d.toString
  }

  test("decode produces typed metadata + fixed-dim features per file") {
    val media = Multimodal.decode(spark, Sources.binaryDir(spark, dir, "*.jpg"), featureDim = 8)
    val rows = media.collect()
    assert(rows.length == 6)
    assert(rows.forall(_.features.length == 8))
    assert(rows.forall(m => m.meta.channels == 3 && m.meta.format == "jpg"))
    assert(rows.forall(m => m.meta.width >= 64 && m.meta.height >= 64))
  }

  test("decode is deterministic (same bytes -> same features)") {
    val m1 = Multimodal.decode(spark, Sources.binaryDir(spark, dir, "*.jpg"), 8)
      .collect().map(m => m.path -> m.features.toSeq).toMap
    val m2 = Multimodal.decode(spark, Sources.binaryDir(spark, dir, "*.jpg"), 8)
      .collect().map(m => m.path -> m.features.toSeq).toMap
    assert(m1 == m2)
  }

  test("scorePartitions classifies every row with a bounded score") {
    val media = Multimodal.decode(spark, Sources.binaryDir(spark, dir, "*.jpg"), 8)
    val scored = Multimodal.scorePartitions(spark, media).collect()
    assert(scored.length == 6)
    assert(scored.forall(s => s.score >= 0.0 && s.score <= 8.0))
    assert(scored.forall(s => s.label == "cat" || s.label == "dog"))
  }

  test("resize retargets metadata and scales features deterministically") {
    val media = Multimodal.decode(spark, Sources.binaryDir(spark, dir, "*.jpg"), 8)
    val before = media.collect().map(m => m.path -> m).toMap
    val after = Multimodal.resize(spark, media, 224, 224).collect()
    assert(after.length == 6)
    after.foreach { m =>
      assert(m.meta.width == 224 && m.meta.height == 224)
      val orig = before(m.path)
      val scale = (224f * 224f) / (orig.meta.width.toFloat * orig.meta.height)
      orig.features.zip(m.features).foreach { case (a, b) =>
        assert(math.abs(a * scale - b) < 1e-5f)
      }
    }
  }

  // --- real ImageIO decode (round 4) ---

  /** 32×16 PNG, left half pure red, right half pure blue. */
  private def halfRedBlue(w: Int = 32, h: Int = 16): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0xff0000 else 0x0000ff)
    img
  }

  private lazy val imgDir: String = {
    val d = deleteAtExit(Files.createTempDirectory("realimg"))
    javax.imageio.ImageIO.write(halfRedBlue(), "png", new java.io.File(d.toFile, "rb.png"))
    javax.imageio.ImageIO.write(halfRedBlue(64, 48), "jpg", new java.io.File(d.toFile, "rb.jpg"))
    // a non-image payload in the same directory exercises the stub fallback
    Files.write(Paths.get(d.toString, "clip.png"), Array.fill[Byte](64)(42))
    d.toString
  }

  test("decodeImage reads true dims/format and exact mean-RGB strip features from a PNG") {
    val bytes = Files.readAllBytes(Paths.get(imgDir, "rb.png"))
    val m = Multimodal.decodeImage("rb.png", bytes, featureDim = 6).get
    assert(m.meta == Multimodal.MediaMeta(32, 16, 3, "png"))
    // strip 0 = left half = pure red; strip 1 = right half = pure blue (PNG is lossless)
    assert(m.features.toSeq == Seq(1f, 0f, 0f, 0f, 0f, 1f))
  }

  test("decodeImage reports the codec's format for a JPEG and near-pure strip colors") {
    val bytes = Files.readAllBytes(Paths.get(imgDir, "rb.jpg"))
    val m = Multimodal.decodeImage("rb.jpg", bytes, featureDim = 6).get
    assert(m.meta.width == 64 && m.meta.height == 48 && m.meta.format == "jpeg")
    assert(m.features(0) > 0.8f && m.features(1) < 0.25f) // left strip mostly red
    assert(m.features(5) > 0.8f && m.features(3) < 0.25f) // right strip mostly blue
  }

  test("decodeImage returns None for non-image payloads (stub fallback in decode)") {
    assert(Multimodal.decodeImage("x.png", Array.fill[Byte](64)(42), 6).isEmpty)
    val all = Multimodal.decode(spark, Sources.binaryDir(spark, imgDir, "*.png"), 6).collect()
    assert(all.length == 2)
    val real = all.find(_.path.endsWith("rb.png")).get
    val stub = all.find(_.path.endsWith("clip.png")).get
    assert(real.meta.width == 32 && real.meta.format == "png")
    assert(stub.meta.format == "png" && stub.features.length == 6) // stub path, declared dim honored
  }

  test("recognized-but-corrupt payload falls back instead of killing the task") {
    // valid PNG signature + IHDR chunk header, then garbage: ImageIO's
    // reader recognizes the format and then fails mid-read — any exception
    // class (JDK readers throw unchecked on truncated input) must map to
    // the stub fallback, never a task failure
    val corrupt =
      Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 0x0d, 0x49, 0x48, 0x44, 0x52) ++ Array.fill[Byte](48)(7)
    assert(Multimodal.decodeImage("bad.png", corrupt, 6).isEmpty)
    val viaStub = Multimodal.stubDecode("bad.png", corrupt, 6)
    assert(viaStub.features.length == 6)
  }

  test("decodeResized rescales through Graphics2D and keeps strip structure") {
    val media = Multimodal.decodeResized(
      spark, Sources.binaryDir(spark, imgDir, "rb.png"), w = 8, h = 8, featureDim = 6).collect()
    assert(media.length == 1)
    val m = media.head
    assert(m.meta.width == 8 && m.meta.height == 8)
    assert(m.features(0) > 0.8f && m.features(5) > 0.8f) // halves survive the resize
  }

  test("sampleFrames explodes every k-th chunk with frame indices") {
    val files = Seq(("v1", Array.fill[Byte](100)(7))).toDF("path", "content")
    val frames = Multimodal.sampleFrames(files, chunkBytes = 10, everyK = 2).collect()
    // chunks at offsets 0..10 (11 positions), every 2nd -> 6 frames
    assert(frames.length == 6)
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == (0 to 5))
  }

  test("keyFrames keeps frame 0 and scene changes, drops static frames") {
    // fake video: 3 frames of scene A, 2 of scene B (1 byte flipped within
    // B's second frame = 12.5% change), back to A
    def frame(v: Byte) = Array.fill[Byte](8)(v)
    val b2 = frame(2); b2(0) = 9 // 1/8 = 0.125 change vs frame(2)
    val content = (Seq(frame(1), frame(1), frame(1), frame(2)) ++
      Seq(b2, frame(1))).flatten.toArray
    val files = Seq(("v1", content)).toDF("path", "content")
    val kept = Multimodal.keyFrames(spark, files, chunkBytes = 8, minChangeFrac = 0.5)
      .collect().map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1)
    // frame 0 always; frames 1,2 static; frame 3 full change; frame 4 only
    // 12.5% (< 0.5, dropped); frame 5 differs from b2 in every byte (byte 0:
    // 1 vs 9, bytes 1-7: 1 vs 2) -> kept at 1.0
    assert(kept.map(_._1).toSeq == Seq(0, 3, 5))
    assert(kept(0)._2 == -1.0)
    assert(kept(1)._2 == 1.0)
    assert(kept(2)._2 == 1.0)
  }

  test("keyFrames: a ragged tail counts missing bytes as changed") {
    val content = (Array.fill[Byte](8)(5) ++ Array.fill[Byte](4)(5))
    val files = Seq(("v1", content)).toDF("path", "content")
    val all = Multimodal.keyFrames(spark, files, chunkBytes = 8, minChangeFrac = 0.0)
      .collect().map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1)
    // tail frame: 4 common bytes equal, 4 missing -> 4/8 = 0.5 change
    assert(all.map(_._1).toSeq == Seq(0, 1))
    assert(all(1)._2 == 0.5)
  }
}
