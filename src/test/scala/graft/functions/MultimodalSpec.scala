package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Multimodal plumbing: schema contract, per-partition batch decode (stub),
  * null-payload failure path, and the bridge into the embedding/ANN surface.
  */
class MultimodalSpec extends SparkSpec {

  private def mediaDf(n: Int) = {
    val rows = (0 until n).map { i =>
      Row(i.toLong,
        if (i % 5 == 4) null else s"payload-$i".getBytes("UTF-8"),
        Row("image/png", 64, 64))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), Multimodal.mediaSchema)
  }

  test("extractFeatures: fixed-width features, deterministic stub, null payload -> null feature") {
    val out = Multimodal.extractFeatures(mediaDf(20))
    assert(out.schema.fieldNames.toSeq == Seq("asset_id", "mime", "n_bytes", "feature"))
    assert(out.count() == 20)
    val byId = out.collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    // null payloads take the decoder failure path
    assert(byId(4L).isNullAt(3) && byId(4L).getAs[Long]("n_bytes") == 0L)
    // non-null payloads produce FeatureDim floats, deterministically
    val f8 = byId(8L).getSeq[Float](3)
    assert(f8.length == Multimodal.FeatureDim)
    assert(f8.toList == Multimodal.decodeStub("payload-8".getBytes("UTF-8")).get.toList)
  }

  test("extractFeatures preserves distribution: no collect, partition count survives") {
    val out = Multimodal.extractFeatures(mediaDf(20))
    assert(out.rdd.getNumPartitions == 3)
  }

  test("readMediaDir ingests raw files via the binaryFile source") {
    val dir = tmpDir("media").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.png"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.jpg"), Array[Byte](4, 5))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.txt"), Array[Byte](6))
    val media = Multimodal.readMediaDir(spark, dir)
    assert(media.count() == 3)
    val byMime = media.collect()
      .map(r => r.getStruct(2).getString(0) -> r.getAs[Array[Byte]]("media").length).toMap
    assert(byMime == Map("image/png" -> 3, "image/jpeg" -> 2, "application/octet-stream" -> 1))
    // ingested media flows straight into the feature extractor
    assert(Multimodal.extractFeatures(media.drop("path")).count() == 3)
  }

  test("resize really rescales decodable images (nearest-neighbor); others pass through") {
    def png2x2(pixels: Seq[Int]): Array[Byte] = { // TL TR BL BR, 0xRRGGBB
      val img = new java.awt.image.BufferedImage(
        2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, pixels(0)); img.setRGB(1, 0, pixels(1))
      img.setRGB(0, 1, pixels(2)); img.setRGB(1, 1, pixels(3))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val quad = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    val rows = Seq(
      Row(0L, png2x2(quad), Row("image/png", 2, 2)),
      Row(1L, "not an image".getBytes("UTF-8"), Row("application/octet-stream", 9, 9)),
      Row(2L, null, Row(null, null, null)))
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
      .withColumn("path", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("f"), org.apache.spark.sql.functions.col("asset_id")))
    val resized = Multimodal.resize(df, 4, 4)
    // extra caller columns survive on every row
    assert(resized.columns.toSeq == Seq("asset_id", "media", "meta", "path"))
    val out = resized.collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert((0L to 2L).forall(i => out(i).getAs[String]("path") == s"f$i"))

    // the image really upscaled: 4x4 PNG whose 2x2 blocks are the quadrants
    // (nearest-neighbor src = floor(dst * 2 / 4) -> 0,0,1,1)
    val m0 = out(0L)
    assert(m0.getStruct(2).getString(0) == "image/png")
    assert(m0.getStruct(2).getInt(1) == 4 && m0.getStruct(2).getInt(2) == 4)
    val up = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(m0.getAs[Array[Byte]]("media")))
    assert(up.getWidth == 4 && up.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4) {
      val want = quad((if (y >= 2) 2 else 0) + (if (x >= 2) 1 else 0))
      assert((up.getRGB(x, y) & 0xffffff) == want, s"pixel ($x,$y)")
    }

    // non-image payload passes through byte-identical with its ORIGINAL
    // meta untouched (no fake dims claimed, no real ones erased)
    val m1 = out(1L)
    assert(m1.getAs[Array[Byte]]("media").sameElements("not an image".getBytes("UTF-8")))
    assert(m1.getStruct(2) == Row("application/octet-stream", 9, 9))
    // null payload stays null, meta stays untouched
    assert(out(2L).isNullAt(1) && out(2L).getStruct(2) == Row(null, null, null))
  }

  test("sampleFrames emits one row per (asset, frame) with non-empty chunks") {
    val frames = Multimodal.sampleFrames(mediaDf(5), 3)
    assert(frames.columns.toSeq == Seq("asset_id", "frame_no", "frame"))
    val byAsset = frames.collect().groupBy(_.getAs[Long]("asset_id"))
    assert(!byAsset.contains(4L))          // null payload yields no frames
    assert(byAsset(0L).map(_.getAs[Int]("frame_no")).sorted.toSeq == Seq(0, 1, 2))
    // frames reassemble a prefix of the original payload
    val joined = byAsset(1L).sortBy(_.getAs[Int]("frame_no"))
      .flatMap(_.getAs[Array[Byte]]("frame"))
    assert(new String(joined, "UTF-8").startsWith("payload-1".take(joined.length)))
  }

  test("real PNG decodes through javax.imageio: exact pixel-derived features, e2e to cosine") {
    import java.awt.image.BufferedImage
    def png(pixels: Seq[Seq[Int]]): Array[Byte] = { // row-major 0xRRGGBB
      val h = pixels.length; val w = pixels.head.length
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // 2x2: red green / blue white — one pure color per quadrant
    val a = png(Seq(Seq(0xff0000, 0x00ff00), Seq(0x0000ff, 0xffffff)))
    val b = png(Seq(Seq(0xffffff, 0xffffff), Seq(0xffffff, 0xffffff)))
    val dir = tmpDir("realpng").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.png"), a)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.png"), b)

    val media = Multimodal.readMediaDir(spark, dir)
    // key features by asset_id (unique by construction), not by byte
    // length — two PNGs can legally compress to equal sizes
    val idByFile = media.select("path", "asset_id").collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    val feats = Multimodal.extractFeatures(media.drop("path"))
    val byId = feats.collect().map(r => r.getAs[Long]("asset_id") -> r.getSeq[Float](3)).toMap
    val fa = byId(idByFile("a.png"))
    // exact values from the 2x2 pixels, same integer arithmetic as the decoder
    assert(fa(0) == 0.5f && fa(1) == 0.5f && fa(2) == 0.5f) // mean R/G/B
    assert(fa(3) == (299L * 255).toFloat / 255000f)  // top-left red luma
    assert(fa(4) == (587L * 255).toFloat / 255000f)  // top-right green
    assert(fa(5) == (114L * 255).toFloat / 255000f)  // bottom-left blue
    assert(fa(6) == 1.0f)                            // bottom-right white
    assert(fa(7) == 0.5f)                            // square aspect
    val fb = byId(idByFile("b.png"))
    assert(fb.take(7).forall(_ == 1.0f))             // all-white: every mean is 1

    // e2e: embeddings bridge + x11-style cosine between the two real images
    import org.apache.spark.sql.functions._
    val emb = Multimodal.asEmbeddings(feats)
    val q = emb.filter(col("vec_id") === emb.select("vec_id").orderBy("vec_id").head().getLong(0))
      .select(col("embedding").as("q_emb"))
    val dot = graft.queries.ExtendedQueries.dot _
    val cos = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("q_emb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("q_emb"), col("q_emb"))))).as("cosine"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cos.size == 2)
    assert(cos.values.exists(c => math.abs(c - 1.0) < 1e-9)) // self-similarity
    assert(cos.values.forall(c => c > 0.8 && c <= 1.0 + 1e-9)) // bright images correlate
  }

  test("real WAV decodes through javax.sound.sampled: exact signal features") {
    import javax.sound.sampled._
    // 16-bit mono PCM, 8 kHz: a ±8192 square wave flipping every 4 samples
    val rate = 8000f; val n = 800
    val samples = Array.tabulate[Short](n)(i => if ((i / 4) % 2 == 0) 8192 else -8192)
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) { // little-endian
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n),
      AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val feats = Multimodal.decodeAudio(wav).get
    assert(feats.length == Multimodal.FeatureDim)
    assert(feats(0) == (n / rate / 100.0).toFloat)        // duration
    assert(feats(1) == rate / 100000.0f)                  // sample rate
    assert(feats(2) == 1 / 8.0f)                          // mono
    assert(feats(3) == (8192.0 / 32767.0).toFloat)        // mean |v| of a square
    assert(feats(4) == (8192.0 / 32767.0).toFloat)        // RMS == mean for a square
    // sign flips every 4 samples starting at i=4 -> floor((n-1)/4) crossings
    assert(feats(5) == ((n - 1) / 4).toFloat / n)
    assert(feats(6) == (8192.0 / 32767.0).toFloat)        // peak
    assert(feats(7) == 0.5f)                              // energy evenly split

    // dispatch: the WAV flows through extractFeatures' real audio path,
    // not the stub (stub output for these bytes would differ)
    val rows = Seq(org.apache.spark.sql.Row(1L, wav,
      org.apache.spark.sql.Row("audio/wav", null, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val out = Multimodal.extractFeatures(df).collect().head
    assert(out.getSeq[Float](3).toList == feats.toList)
  }

  // A structurally honest MJPEG-in-AVI file: RIFF(AVI ) { LIST(hdrl){avih},
  // LIST(movi){ 00dc jpeg ... } } with LE32 sizes and word alignment —
  // what a real MJPEG camera/ffmpeg -c:v mjpeg writes, minus the optional
  // index chunk (players and our walker both tolerate its absence).
  private def mjpegAvi(jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val movi = list("movi", jpegFrames.map(chunk("00dc", _)).reduce(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  private def jpeg(rgb: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  test("real MJPEG-AVI decodes: frames extracted by the RIFF walk, features = frame mean") {
    // three solid 8x8 frames: dark, mid, bright gray
    val frames = Seq(jpeg(0x202020, 8, 8), jpeg(0x808080, 8, 8), jpeg(0xe0e0e0, 8, 8))
    val avi = mjpegAvi(frames)

    // the walker recovers each frame chunk byte-for-byte, in file order
    val got = Multimodal.aviVideoFrames(avi)
    assert(got.length == 3)
    assert(got.zip(frames).forall { case (a, b) => a.sameElements(b) })

    // video features are the per-dimension mean of the per-frame image
    // features — computed here independently from the SAME decoded frames
    val perFrame = frames.map(f => Multimodal.decodeImage(f).get)
    val want = (0 until Multimodal.FeatureDim).map { i =>
      (perFrame.map(_(i).toDouble).sum / perFrame.length).toFloat
    }
    assert(Multimodal.decodeVideo(avi).get.toSeq == want)

    // e2e dispatch through Spark: the AVI payload takes the video path in
    // extractFeatures (imageio and the audio stack both reject it), and
    // sampleVideoFrames emits real standalone JPEGs that re-decode
    val rows = Seq(org.apache.spark.sql.Row(7L, avi,
      org.apache.spark.sql.Row("video/x-msvideo", null, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val out = Multimodal.extractFeatures(df).collect().head
    assert(out.getSeq[Float](3).toSeq == want)

    val sampled = Multimodal.sampleVideoFrames(df).collect()
      .sortBy(_.getAs[Int]("frame_no"))
    assert(sampled.map(_.getAs[Int]("frame_no")).toSeq == Seq(0, 1, 2))
    assert(sampled.zip(perFrame).forall { case (r, pf) =>
      Multimodal.decodeImage(r.getAs[Array[Byte]]("frame")).get.sameElements(pf)
    })
    // every-2nd sampling keeps frames 0 and 2
    assert(Multimodal.sampleVideoFrames(df, every = 2).collect()
      .map(_.getAs[Int]("frame_no")).sorted.toSeq == Seq(0, 2))
    // non-AVI payloads yield no frames (mirror of the decoder's None)
    assert(Multimodal.sampleVideoFrames(mediaDf(3)).count() == 0)
  }

  test("RIFF walker edges: odd-size chunk padding, truncation, non-AVI, frame cap") {
    // odd-size payloads exercise the word-alignment rule: a 3-byte and a
    // 5-byte frame chunk each get a pad byte that must NOT reach the output
    val odd1 = Array[Byte](1, 2, 3)
    val odd2 = Array[Byte](4, 5, 6, 7, 8)
    val avi = mjpegAvi(Seq(odd1, odd2))
    val got = Multimodal.aviVideoFrames(avi)
    assert(got.length == 2)
    assert(got(0).sameElements(odd1) && got(1).sameElements(odd2))

    // truncated mid-chunk: the walker stops cleanly with what it has
    val cut = java.util.Arrays.copyOfRange(avi, 0, avi.length - 3)
    assert(Multimodal.aviVideoFrames(cut).length <= 1)

    // non-AVI RIFF (WAVE) and arbitrary bytes yield no frames
    val wave = "RIFF".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII")
    assert(Multimodal.aviVideoFrames(wave).isEmpty)
    assert(Multimodal.aviVideoFrames("not a container".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.aviVideoFrames(null).isEmpty)
    assert(Multimodal.aviVideoFrames(Array.empty[Byte]).isEmpty)

    // maxFrames caps the walk (the decoder's bound on pathological files)
    val many = mjpegAvi((1 to 100).map(i => Array[Byte](i.toByte)))
    assert(Multimodal.aviVideoFrames(many, maxFrames = 10).length == 10)

    // a corrupt declared size (beyond the buffer) stops the walk, no throw
    val bad = avi.clone()
    // first frame chunk's size field: find "00dc" and blow up its LE32 size
    val idx = bad.indexOfSlice("00dc".getBytes("US-ASCII"))
    bad(idx + 4) = 0x7f.toByte; bad(idx + 5) = 0x7f.toByte
    bad(idx + 6) = 0x7f.toByte; bad(idx + 7) = 0x7f.toByte
    assert(Multimodal.aviVideoFrames(bad).isEmpty)
  }

  test("asEmbeddings bridges features into the embedding schema") {
    val emb = Multimodal.asEmbeddings(Multimodal.extractFeatures(mediaDf(10)))
    assert(emb.schema.fieldNames.toSeq == Seq("vec_id", "embedding", "label"))
    assert(emb.schema("embedding").dataType == ArrayType(FloatType))
    assert(emb.filter("embedding IS NOT NULL").count() == 8)
  }
}
