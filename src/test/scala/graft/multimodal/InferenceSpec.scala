package graft.multimodal

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Sources
import graft.catalog.Shared.deleteAtExit

class InferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** labels (red, blue); hidden = (red-mean, blue-mean) of the 2-strip
    * feature layout [r0,g0,b0, r1,g1,b1]; logits = hidden. A red-dominant
    * image scores "red", blue-dominant "blue" — hand-checkable weights.
    */
  private val model = Inference.MlpModel(
    labels = Array("red", "blue"),
    w1 = Array(Array(1f, 0f, 0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f, 0f, 1f)),
    b1 = Array(0f, 0f),
    w2 = Array(Array(1f, 0f), Array(0f, 1f)),
    b2 = Array(0f, 0f))

  test("MlpModel wire format round-trips and scores identically") {
    val back = Inference.MlpModel.fromBytes(model.toBytes)
    assert(back.labels.toSeq == Seq("red", "blue"))
    val f = Array(0.9f, 0.1f, 0.2f, 0.8f, 0.0f, 0.3f)
    assert(model.score(f).toSeq == back.score(f).toSeq)
    val probs = back.score(f)
    assert(math.abs(probs.sum - 1.0) < 1e-12) // softmax head
    assert(probs(0) > probs(1)) // red-dominant features
  }

  test("wire format at a realistic model size: 512->128->10, bit-exact through bytes") {
    // the dims an actual image-embedding head ships with — proves the
    // length-prefixed format (not just the 6-dim toy) survives the
    // serialize -> broadcast-shaped copy -> deserialize path bit-for-bit
    val rng = new scala.util.Random(17)
    def mat(r: Int, c: Int) = Array.fill(r)(Array.fill(c)(rng.nextFloat() * 2f - 1f))
    def vec(n: Int) = Array.fill(n)(rng.nextFloat() * 2f - 1f)
    val big = Inference.MlpModel(
      labels = (0 until 10).map(i => s"class_$i").toArray,
      w1 = mat(128, 512), b1 = vec(128),
      w2 = mat(10, 128), b2 = vec(10))
    val bytes = big.toBytes
    // header + labels + (128*512 + 128 + 10*128 + 10) floats, 4 bytes each
    val floats = 128 * 512 + 128 + 10 * 128 + 10
    assert(bytes.length >= floats * 4 && bytes.length <= floats * 4 + 512,
      s"unexpected payload size ${bytes.length} for $floats floats")
    val back = Inference.MlpModel.fromBytes(bytes.clone())
    assert(back.labels.toSeq == big.labels.toSeq)
    (1 to 5).foreach { _ =>
      val f = vec(512)
      val (a, b) = (big.score(f), back.score(f))
      assert(a.toSeq == b.toSeq, "scores must be IDENTICAL, not approximately equal")
      assert(math.abs(a.sum - 1.0) < 1e-9)
    }
  }

  test("fromBytes rejects non-model payloads") {
    intercept[IllegalArgumentException] {
      Inference.MlpModel.fromBytes(Array.fill[Byte](16)(1))
    }
  }

  test("scoreWithModel classifies real decoded images by dominant color") {
    val d = deleteAtExit(Files.createTempDirectory("inf"))
    def solid(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      img
    }
    javax.imageio.ImageIO.write(solid(0xff0000), "png", new java.io.File(d.toFile, "r.png"))
    javax.imageio.ImageIO.write(solid(0x0000ff), "png", new java.io.File(d.toFile, "b.png"))
    val media = Multimodal.decode(spark, Sources.binaryDir(spark, d.toString, "*.png"), 6)
    val scored = Inference.scoreWithModel(spark, media, model.toBytes)
      .collect().map(s => s.path.split('/').last -> s.label).toMap
    assert(scored == Map("r.png" -> "red", "b.png" -> "blue"))
  }

  test("file-sourced model: bytes from disk -> broadcast -> partition-load, end to end") {
    // the external-inference seam an ONNX/DJL backend drops into: a model
    // ARTIFACT serialized by a separate process, loaded as opaque bytes,
    // shipped by broadcast, deserialized per partition. Simulate the
    // artifact handoff through a real file (no in-memory object sharing).
    val f = deleteAtExit(Files.createTempFile("mlp-model", ".gmlp"))
    Files.write(f, model.toBytes)
    val fromDisk = Files.readAllBytes(f) // what a deploy job would hand us
    assert(!(fromDisk eq model.toBytes)) // genuinely file-sourced bytes
    val rows = Seq(
      Multimodal.DecodedMedia(
        "red-ish", Multimodal.MediaMeta(8, 8, 3, "png"),
        Array(0.9f, 0.1f, 0.2f, 0.8f, 0.0f, 0.3f)),
      Multimodal.DecodedMedia(
        "blue-ish", Multimodal.MediaMeta(8, 8, 3, "png"),
        Array(0.1f, 0.0f, 0.9f, 0.2f, 0.1f, 0.7f)))
    val media = spark.createDataset(rows).repartition(2)
    val before = Inference.sessionLoads.get()
    val scored = Inference.scoreWithModel(spark, media, fromDisk)
      .collect().map(s => s.path -> s.label).toMap
    val loads = Inference.sessionLoads.get() - before
    assert(scored == Map("red-ish" -> "red", "blue-ish" -> "blue"))
    assert(loads == 2, s"expected one session per partition (2), got $loads")
    // and the scores equal the in-memory model's (the file round-trip is
    // bit-exact, not approximately equal)
    val direct = Inference.MlpModel.fromBytes(fromDisk)
    rows.foreach { r =>
      assert(direct.score(r.features).toSeq == model.score(r.features).toSeq)
    }
  }

  test("session is deserialized once per PARTITION, not per row") {
    val rows = (1 to 40).map { i =>
      Multimodal.DecodedMedia(
        s"p$i", Multimodal.MediaMeta(8, 8, 3, "png"),
        Array(1f, 0f, 0f, 1f, 0f, 0f))
    }
    val media = spark.createDataset(rows).repartition(4)
    val before = Inference.sessionLoads.get()
    val scored = Inference.scoreWithModel(spark, media, model.toBytes).collect()
    val loads = Inference.sessionLoads.get() - before
    assert(scored.length == 40)
    assert(loads == 4, s"expected one session per partition (4), got $loads")
  }
}
