package graft.mm

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("data-URL decode/encode roundtrip") {
    val payload = Array[Byte](1, 2, 3, 4, 5)
    val url = "data:image/png;base64," +
      java.util.Base64.getEncoder.encodeToString(payload)
    val df = Seq(url).toDF("u")
    val dec = Multimodal.fromDataUrl(df, "u")
    val row = dec.collect()(0)
    assert(row.getAs[String]("mime") == "image/png")
    assert(row.getAs[Array[Byte]]("payload").toSeq == payload.toSeq)

    val enc = Multimodal.toDataUrl(dec, "mime", "payload")
    assert(enc.select("data_url").as[String].collect()(0) == url)
  }

  test("extractFeatures: per-partition decoder, stable features, null-safe") {
    val df = Seq(
      (1L, Array[Byte](10, 20, 30)),
      (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload").repartition(2)
    val r = Multimodal.extractFeatures(df, "payload", () => new Multimodal.FakeDecoder(4))
      .orderBy("id").collect()
    assert(!r(0).isNullAt(r(0).fieldIndex("features")))
    assert(r(0).getAs[scala.collection.Seq[Float]]("features").length == 4)
    assert(r(0).getAs[Int]("width") >= 1)
    assert(r(1).isNullAt(r(1).fieldIndex("features")))

    // determinism: same payload → same features
    val again = Multimodal.extractFeatures(df, "payload", () => new Multimodal.FakeDecoder(4))
      .orderBy("id").collect()
    assert(again(0).getAs[scala.collection.Seq[Float]]("features").toSeq ==
      r(0).getAs[scala.collection.Seq[Float]]("features").toSeq)
  }

  test("resizeMedia stamps target dimensions, passes nulls through") {
    val df = Seq(
      (1L, Array.tabulate[Byte](100)(_.toByte)),
      (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload").repartition(2)
    val r = Multimodal.resizeMedia(df, "payload", 64, 32, () => new Multimodal.FakeResizer)
      .orderBy("id").collect()
    val resized = r(0).getAs[Array[Byte]]("resized")
    val bb = java.nio.ByteBuffer.wrap(resized)
    assert(bb.getInt == 64 && bb.getInt == 32)
    assert(resized.length > 8 && resized.length <= 108)
    assert(r(1).isNullAt(r(1).fieldIndex("resized")))
  }

  test("sampleFrames fans one video row out to every n-th frame") {
    val video = Array.tabulate[Byte](64)(_.toByte) // 4 chunks of 16
    val df = Seq((1L, video), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val r = Multimodal.sampleFrames(df, "payload",
        () => new Multimodal.FakeFrameSampler(frameSize = 16, everyNth = 2))
      .orderBy("id", "frame_idx").collect()
    assert(r.length == 2) // frames 0 and 2 of row 1; null row contributes none
    assert(r.map(_.getAs[Long]("frame_idx")).toSeq == Seq(0L, 2L))
    assert(r(0).getAs[Array[Byte]]("frame").toSeq == video.slice(0, 16).toSeq)
    assert(r.forall(_.getAs[Long]("id") == 1L))
  }

  test("audio features: duration from byte length, bounded envelope, null passthrough") {
    val audio = Array.tabulate[Byte](80)(i => (i * 3).toByte) // 20 ms at 4 B/ms
    val df = Seq((1L, audio), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val r = Multimodal.extractAudioFeatures(df, "payload",
        () => new Multimodal.FakeAudioDecoder(bytesPerMs = 4, windows = 8))
      .orderBy("id").collect()
    assert(r(0).getAs[Long]("duration_ms") == 20L)
    assert(r(0).getAs[Int]("sample_rate") == 16000)
    val env = r(0).getAs[scala.collection.Seq[Float]]("envelope")
    assert(env.length == 8 && env.forall(v => v >= 0f && v <= 1f))
    assert(r(1).isNullAt(r(1).fieldIndex("duration_ms")))
  }

  test("payloadNearDups: few-byte edits match, distinct payloads and nulls don't") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill[Byte](4096)(0); rnd.nextBytes(base)
    val nearDup = base.clone(); nearDup(100) = 42; nearDup(2000) = 7 // 2-byte edit
    val other = Array.fill[Byte](4096)(0); rnd.nextBytes(other)
    val df = Seq(
      (1L, base), (2L, nearDup), (3L, other), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val pairs = Multimodal.payloadNearDups(df, "id", "payload", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup payload missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"distinct payload matched: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }
}
