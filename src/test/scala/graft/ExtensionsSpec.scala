package graft

/** The native functions must be reachable from pure SQL on a session
  * built with the extension (SQL-first users; the DataFrame API never
  * needs it).
  */
class ExtensionsSpec extends SparkSpec {

  test("graft_dot and graft_simhash32 are callable from SQL") {
    val dot = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").collect().head.getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT graft_simhash32(array(CAST(5 AS BIGINT))) AS s").collect().head.getLong(0)
    assert(sh == 5L) // single token: its low bits vote directly
  }

  test("graft_nfc_normalize composes decomposed accents from SQL") {
    val r = spark.sql(
      "SELECT graft_nfc_normalize('cafe\\u0301') AS n, length(graft_nfc_normalize('cafe\\u0301')) AS l")
      .collect().head
    assert(r.getString(0) == "caf\u00e9" && r.getInt(1) == 4)
  }

  test("graft_synth_gray_png + graft_image_stats round-trip from SQL") {
    val r = spark.sql(
      "SELECT graft_image_stats(graft_synth_gray_png(CAST(7 AS BIGINT), 8, 8)) AS st")
      .selectExpr("st.img_w", "st.img_h", "st.px_sum").collect().head
    val px = (0 until 64).map(i => graft.functions.ImageCodec.pixel(7L, i.toLong).toLong)
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L && r.getLong(2) == px.sum)
    // corrupt payload -> null struct, not an error
    val bad = spark.sql("SELECT graft_image_stats(CAST('nope' AS BINARY)) AS st").collect().head
    assert(bad.isNullAt(0))
  }

  test("audio and video codec functions round-trip from SQL") {
    val wav = spark.sql(
      "SELECT graft_wav_stats(graft_synth_pcm_wav(CAST(9 AS BIGINT), 16)) AS st")
      .selectExpr("st.n_samples", "st.amp_sum").collect().head
    val samples = (0 until 16).map(i => graft.functions.AudioCodec.sample(9L, i.toLong).toLong)
    assert(wav.getLong(0) == 16L && wav.getLong(1) == samples.sum)
    val gif = spark.sql(
      "SELECT graft_gif_frame_stats(graft_synth_gif_anim(CAST(9 AS BIGINT), 4, 4, 3)) AS st")
      .selectExpr("st.n_frames", "st.frame_idx", "st.px_sum").collect().head
    val mid = (0 until 16).map(i => graft.functions.VideoCodec.pixel(9L, 1, i.toLong).toLong)
    assert(gif.getLong(0) == 3L && gif.getLong(1) == 1L && gif.getLong(2) == mid.sum)
  }

  test("graft_ahash64: re-encoded copies hash equal; near-identical smooth images land within a few bits") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // hand-built smooth gradient (pixel = 8x + 8y) — the image class
    // aHash is designed for, unlike the white-noise synth fixtures
    def gradient(w: Int, h: Int, tweak: Option[(Int, Int, Int)]): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, math.min(255, 8 * x + 8 * y))
      tweak.foreach { case (tx, ty, v) => img.getRaster.setSample(tx, ty, 0, v) }
      val bos = new ByteArrayOutputStream(256)
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def hash(png: Array[Byte]): Long =
      graft.functions.ImageCodec.aHash64(png).asInstanceOf[Long]
    val base = hash(gradient(16, 16, None))
    // identical pixels, fresh encode → identical hash
    assert(hash(gradient(16, 16, None)) == base)
    // one-pixel tweak → near-identical: hamming must stay small (≤ 2
    // of 64 bits — only the gathered cell containing the tweak and at
    // most a mean-threshold flip can move)
    val near = hash(gradient(16, 16, Some((3, 3, 255))))
    assert(java.lang.Long.bitCount(base ^ near) <= 2,
      s"hamming ${java.lang.Long.bitCount(base ^ near)}")
    // a different image entirely → far (structurally: inverted slope)
    val other = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16)
        img.getRaster.setSample(x, y, 0, math.max(0, 255 - 16 * x))
      val bos = new ByteArrayOutputStream(256)
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(java.lang.Long.bitCount(base ^ hash(other)) > 8)
    // SQL registration + null contract
    val viaSql = spark.sql(
      "SELECT graft_ahash64(graft_synth_gray_png(CAST(9 AS BIGINT), 16, 16)) AS h").collect().head.getLong(0)
    val direct = hash(graft.functions.ImageCodec.encodeGrayPng(9L, 16, 16))
    assert(viaSql == direct)
    assert(spark.sql("SELECT graft_ahash64(CAST('nope' AS BINARY)) AS h").collect().head.isNullAt(0))
  }

  test("graft_minhash_sig returns H minima consistent with the Scala constants") {
    val row = spark.sql(
      "SELECT graft_minhash_sig(array(CAST(7 AS BIGINT), CAST(11 AS BIGINT))) AS sig")
      .collect().head.getSeq[Long](0)
    import graft.ext.MinHash._
    val expected = (0 until NumHashes).map { i =>
      Seq(7L, 11L).map(m => (aConst(i) * m + bConst(i)) % P).min
    }
    assert(row == expected)
  }
}
