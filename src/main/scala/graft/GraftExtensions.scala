package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomAgg, BloomBroadcasts, BloomContains, BloomContainsBcast, CosineSimilarity, HeavyHittersAgg, Md5U32, MinHashAgg, MinHashSigs, NfcNormalize, NfkcNormalize, SimHash32, StripAccents, SubwordStats}

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the engine's native Catalyst expressions into the session's
  * function registry so SQL and `expr(...)` can call them like builtins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in"),
    builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float vectors")(
      c => CosineSimilarity(c.head, c(1))))
    ext.injectFunction(fn("md5_u32",
      "md5_u32(s) - first 8 md5 hex digits as unsigned 32-bit BIGINT")(
      c => Md5U32(c.head)))
    ext.injectFunction(fn("simhash32",
      "simhash32(tokens) - 32-bit majority simhash of a string array")(
      c => SimHash32(c.head)))
    ext.injectFunction(fn("minhash_sigs",
      "minhash_sigs(shingles) - 12 banded minhash signature slots")(
      c => MinHashSigs(c.head)))
    ext.injectFunction(fn("subword_stats",
      "subword_stats(words, vocab, max_word_len) - [n_words, n_subwords, n_unk] by greedy longest-match wordpiece")(
      c => SubwordStats(c.head, c(1), c(2))))
    ext.injectFunction(fn("minhash_agg",
      "minhash_agg(sigs) - mergeable element-wise-min aggregate of minhash signatures")(
      c => MinHashAgg(c.head).toAggregateExpression()))
    ext.injectFunction(fn("bloom_agg",
      "bloom_agg(hash, m, k) - mergeable Bloom filter over a BIGINT hash; m bits, k probes (foldable)")(
      c => {
        def int(e: Expression, what: String): Int = {
          require(e.foldable, s"bloom_agg: $what must be foldable")
          e.eval(null).toString.toInt
        }
        BloomAgg(c.head, int(c(1), "m"), int(c(2), "k")).toAggregateExpression()
      }))
    ext.injectFunction(fn("bloom_contains",
      "bloom_contains(filter, hash) - probabilistic membership probe; no false negatives")(
      c => BloomContains(c.head, c(1))))
    ext.injectFunction(fn("bloom_contains_bcast",
      "bloom_contains_bcast(handle, hash) - membership probe against a driver-registered broadcast filter; the bytes ride a torrent broadcast, never the task binary")(
      c => {
        require(c.head.foldable, "bloom_contains_bcast: handle must be foldable")
        BloomContainsBcast(
          BloomBroadcasts.lookup(c.head.eval(null).toString.toInt), c(1))
      }))
    ext.injectFunction(fn("nfc_normalize",
      "nfc_normalize(s) - Unicode NFC normalization (canonical compose)")(
      c => NfcNormalize(c.head)))
    ext.injectFunction(fn("nfkc_normalize",
      "nfkc_normalize(s) - Unicode NFKC normalization (compatibility compose)")(
      c => NfkcNormalize(c.head)))
    ext.injectFunction(fn("strip_accents",
      "strip_accents(s) - drop combining marks after NFD decomposition")(
      c => StripAccents(c.head)))
    ext.injectFunction(fn("heavy_hitters",
      "heavy_hitters(term, k) - mergeable Misra-Gries top terms with frequency lower bounds")(
      c => HeavyHittersAgg(c.head, c(1)).toAggregateExpression()))
    // Optimizer rule: Expand-free plan for count + single countDistinct
    // (see graft.plans.DistinctAggRewrite).
    ext.injectOptimizerRule(_ => graft.plans.DistinctAggRewrite)
    // Optimizer rule: vectorized merge-on-read — DV-bearing TxLog reads
    // keep whole-stage codegen via a row-index mask instead of the V1
    // anti-join fallback (see graft.plans.DvMaskRewrite).
    ext.injectOptimizerRule(_ => graft.plans.DvMaskRewrite)
    // Analysis rule: a bare count(*) of a TxLog.read frame is answered
    // from the snapshot's row count (see graft.plans.LogCountRewrite).
    ext.injectPostHocResolutionRule(_ => graft.plans.LogCountRewrite)
    // Planner strategy: broadcast interval-index range join (tier (c) of
    // the Catalyst ladder — custom LogicalPlan + Strategy + SparkPlan).
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    // SQL UPDATE / MERGE INTO for TxLog catalog tables (DELETE rides
    // SupportsDelete; these two have no V1 fallback interface).
    ext.injectPlannerStrategy(_ => graft.plans.TxDmlStrategy)
  }
}
