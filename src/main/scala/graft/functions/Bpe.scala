package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, udf}

/** Deterministic byte-pair-encoding token counting.
  *
  * Real context-window packing budgets in BPE tokens, not whitespace
  * words — a whitespace budget under-fills windows by the subword
  * expansion factor. This is the classic greedy BPE (Sennrich et al.
  * 2016 / the GPT-2 tokenizer's merge loop): a word starts as its
  * character sequence and the LOWEST-RANK adjacent pair in the merge
  * table is merged (all its occurrences, left to right) until no pair
  * in the table remains. The merge table is a FIXED ordered constant —
  * the shipped-vocabulary model of production tokenizers, where the
  * merge list is a build artifact, not data — so counts are
  * deterministic and reproducible across runs and engines.
  *
  * Scale shape: the ranks map is a broadcast variable read by a
  * deterministic scalar UDF — a per-row pure function, narrow, no
  * shuffle (a UDF rather than a Catalyst expression because an
  * merge-until-stable loop has no builtin-function form — the same
  * justification as the Bloom probe; the loop is allocation-light and
  * the table lookup is a hash map). Oracle-exempt: DuckDB has no BPE;
  * the golden (BpeSpec) checks the distributed count against an
  * independently-written single-node reference implementation on the
  * corpus, plus the vocabulary-prefix monotonicity property.
  */
object Bpe {

  /** Ordered merge list; rank = index (lower = higher priority). A
    * small hand-fixed vocabulary over the corpus's character
    * distribution, including multi-level merges (e.g. v a→va, va l→val,
    * val ue→value) so the hierarchy — not just digraphs — is
    * exercised. */
  val Merges: Vector[(String, String)] = Vector(
    // Each word's build path is ordered so that under GREEDY
    // lowest-rank-first no earlier rule steals a character the
    // hierarchy needs (e.g. (q,u) precedes (u,e) or "query" could
    // never form "qu"). Hand-verified per word; BpeSpec pins the
    // full-word outcomes.
    "q" -> "u", "v" -> "a", "u" -> "e", "va" -> "l", "val" -> "ue",
    "i" -> "n", "w" -> "in", "o" -> "w", "win" -> "d", "wind" -> "ow",
    "s" -> "p", "a" -> "r", "sp" -> "ar", "spar" -> "k",
    "s" -> "m", "a" -> "l", "sm" -> "al", "smal" -> "l",
    "a" -> "t", "c" -> "h", "b" -> "at", "bat" -> "ch",
    "e" -> "r", "qu" -> "er", "quer" -> "y",
    "t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le",
    "o" -> "r", "or" -> "d", "ord" -> "er",
    "l" -> "in", "lin" -> "e",
    "t" -> "h", "th" -> "e",
    "e" -> "y", "k" -> "ey",
    "s" -> "c", "a" -> "n", "sc" -> "an",
    "h" -> "a", "ha" -> "s", "has" -> "h",
    "f" -> "a", "s" -> "t", "fa" -> "st",
    "l" -> "ow", "s" -> "low", "r" -> "ow",
    "d" -> "at", "dat" -> "a",
    "c" -> "o", "co" -> "l",
    "j" -> "o", "jo" -> "in",
    "e" -> "n", "o" -> "n", "a" -> "g", "ag" -> "g")

  lazy val Ranks: Map[(String, String), Int] = Merges.zipWithIndex.toMap

  /** Greedy merge of one word under `ranks`; returns the subword
    * symbols. Deterministic: ties in rank cannot occur (ranks are
    * distinct); the lowest-rank pair is merged at ALL its positions
    * left-to-right before re-scanning. */
  def encodeWord(word: String,
                 ranks: Map[(String, String), Int] = Ranks): Vector[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = Merges(bestRank)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }

  /** BPE token count of a whitespace-token array. */
  def countTokens(toks: Seq[String],
                  ranks: Map[(String, String), Int] = Ranks): Int = {
    var n = 0
    toks.foreach { w => if (w.nonEmpty) n += encodeWord(w, ranks).length }
    n
  }

  /** Registers `graft_bpe_count(array<string>) -> int`. The ranks map
    * ships ONCE per executor as a broadcast variable, not per-task in
    * the closure; re-registration is a no-op per session (a corpus
    * loop calling register() repeatedly must not ship a fresh
    * broadcast each time — registries are per-SESSION, so the guard
    * is a catalog lookup, not a context-keyed set). */
  def register(spark: SparkSession): Unit = {
    if (spark.catalog.functionExists("graft_bpe_count")) return
    val bc = spark.sparkContext.broadcast(Ranks)
    spark.udf.register("graft_bpe_count",
      udf((toks: Seq[String]) =>
        if (toks == null) 0 else countTokens(toks, bc.value)))
    // the subword sequence itself — what a training-shard writer
    // actually emits (ids are a dictionary-encode away)
    spark.udf.register("graft_bpe_tokens",
      udf((toks: Seq[String]) =>
        if (toks == null) Seq.empty[String]
        else toks.iterator.filter(_.nonEmpty)
          .flatMap(w => encodeWord(w, bc.value)).toSeq))
  }

  /** Column form of the registered UDFs. */
  def bpeCount(toks: Column): Column = call_function("graft_bpe_count", toks)
  def bpeTokens(toks: Column): Column = call_function("graft_bpe_tokens", toks)
}
