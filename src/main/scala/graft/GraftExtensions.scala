package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.ext.MinHash
import graft.functions.{DecodeImageStats, FloatDotProduct, GrayPngAHash, MinHashSignature, NfcNormalize, ParseWavStats, SimHash32, SynthGrayPng, SynthPcmWav}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so they are callable from
  * `spark.sql(...)` / `expr(...)` in sessions built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  *  - `graft_dot(a, b)`          — codegen'd float-array dot product
  *  - `graft_simhash32(hs)`      — 32-bit SimHash over token hashes
  *  - `graft_minhash_sig(ms)`    — MinHash signature with the
  *                                  engine's banding constants
  *
  * The DataFrame API (`ext.Similarity`, `ext.MinHash`, `ext.TextOps`)
  * builds the expressions directly; the SQL names are for SQL-first
  * users and rows like e3_cosine_sql. Sessions get them only at build
  * ([[GraftSession.create]]): `getOrCreate` drops `withExtensions`
  * when a session already exists.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // whole-plan rewrite: point-in-interval theta-joins → binned
    // equi-join (graft.plans.RangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    // materialized-aggregate substitution: grouped fact aggregates
    // answered from a registered rollup (graft.plans.MvRewriteRule;
    // opt-in per session via spark.graft.mv.enabled)
    ext.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
    // FK join elimination: inner joins to an unused parent removed
    // under validated constraints (graft.plans.JoinEliminationRule;
    // opt-in per session via spark.graft.fkelim.enabled)
    ext.injectOptimizerRule(_ => graft.plans.JoinEliminationRule)
    // whole-operator tier: the native sort-merge AS-OF join
    // (graft.plans.AsOfJoinNode → AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      "graft_dot(a, b) - dot product of two float arrays as double",
      (args: Seq[Expression]) => FloatDotProduct(args(0), args(1))),
    ("graft_simhash32",
      "graft_simhash32(hs) - 32-bit simhash of a bigint-array of token hashes",
      (args: Seq[Expression]) => SimHash32(args.head)),
    ("graft_nfc_normalize",
      "graft_nfc_normalize(s) - Unicode NFC canonical composition of a string",
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    ("graft_minhash_sig",
      "graft_minhash_sig(ms) - minhash signature of shingle hashes",
      (args: Seq[Expression]) => MinHashSignature(
        args.head,
        (0 until MinHash.NumHashes).map(MinHash.aConst),
        (0 until MinHash.NumHashes).map(MinHash.bConst),
        MinHash.P)),
    ("graft_synth_gray_png",
      "graft_synth_gray_png(seed, w, h) - deterministic grayscale PNG from a bigint seed (w, h literals)",
      (args: Seq[Expression]) => SynthGrayPng(
        args(0), foldableInt(args(1), "w"), foldableInt(args(2), "h"))),
    ("graft_image_stats",
      "graft_image_stats(blob) - decode an image payload to (img_w, img_h, px_sum, px_min, px_max); null if undecodable",
      (args: Seq[Expression]) => DecodeImageStats(args.head)),
    ("graft_ahash64",
      "graft_ahash64(blob) - perceptual 64-bit average hash of an image payload (decode, 8x8 gather, mean threshold); null if undecodable",
      (args: Seq[Expression]) => GrayPngAHash(args.head)),
    ("graft_synth_pcm_wav",
      "graft_synth_pcm_wav(seed, n) - deterministic mono 16-bit PCM WAV from a bigint seed (n samples, literal)",
      (args: Seq[Expression]) => SynthPcmWav(args(0), foldableInt(args(1), "n"))),
    ("graft_wav_stats",
      "graft_wav_stats(blob) - parse a 16-bit PCM WAV payload to (n_samples, sample_rate, amp_sum, amp_peak); null if malformed",
      (args: Seq[Expression]) => ParseWavStats(args.head)),
    ("graft_synth_gif_anim",
      "graft_synth_gif_anim(seed, w, h, n) - deterministic n-frame grayscale animated GIF from a bigint seed (w, h, n literals)",
      (args: Seq[Expression]) => graft.functions.SynthGifAnim(
        args(0), foldableInt(args(1), "w"), foldableInt(args(2), "h"), foldableInt(args(3), "n"))),
    ("graft_gif_frame_stats",
      "graft_gif_frame_stats(blob) - decode an animated GIF and frame-sample the middle frame to (n_frames, frame_idx, px_sum, px_min, px_max); null if undecodable",
      (args: Seq[Expression]) => graft.functions.GifFrameStats(args.head)),
    ("graft_bitmap",
      "graft_bitmap(sorted_ids) - exact compressed id-set binary from a strictly ascending array<bigint>",
      (args: Seq[Expression]) => graft.functions.BitmapFromSorted(args.head)),
    ("graft_bitmap_card",
      "graft_bitmap_card(bm) - exact cardinality of an encoded id-set binary",
      (args: Seq[Expression]) => graft.functions.BitmapCard(args.head)),
    ("graft_bitmap_union",
      "graft_bitmap_union(a, b) - set union of two encoded id-set binaries",
      (args: Seq[Expression]) => graft.functions.BitmapUnion(args(0), args(1))),
    ("graft_bitmap_and_card",
      "graft_bitmap_and_card(a, b) - exact intersection cardinality of two encoded id-set binaries",
      (args: Seq[Expression]) => graft.functions.BitmapIntersectCard(args(0), args(1))),
    ("graft_bitmap_union_agg",
      "graft_bitmap_union_agg(bm) - aggregate set union of encoded id-set binaries",
      (args: Seq[Expression]) => graft.functions.BitmapUnionAgg(args.head)))

  private def foldableInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$name must be an integer, got $other")
    }
  }
}
