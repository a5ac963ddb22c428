package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Byte-pair-encoding VOCABULARY INDUCTION over a distributed corpus —
  * the merge-table learning step of a tokenizer build (the reference
  * pipelines ship tokenized text; learning the merges IS the scale
  * problem: pair counts over the whole corpus, not one machine's shard).
  *
  * Representation: a word is its characters joined by a DOUBLE space
  * ("c a t" → "c  a  t"). A learned merge (a, b) rewrites every
  * occurrence via one `replace` of `' a  b '` with `' ab '` on the
  * single-space-padded string: the anchors are the two halves of the
  * bordering separators, so token boundaries can't false-match inside a
  * multi-char token, and consecutive overlaps resolve LEFT-TO-RIGHT,
  * greedy — exactly the merge order reference BPE implementations apply
  * (replace in Spark, DuckDB and Java all scan the source string left to
  * right, non-overlapping). Verified against a brute-force pair-merge
  * in BpeSpec.
  *
  * Scale shape per round: pair extraction is a map-side array zip over
  * the VOCABULARY (words pre-aggregated with counts — corpus size only
  * enters through the word-count weights), one hash aggregate on
  * (left, right), and a global top-1 (TakeOrdered — no full sort). The
  * winning pair is a 1-row broadcast joined back for the rewrite. Rounds
  * chain lazily; for the thousands of rounds of a production vocab,
  * localCheckpoint the vocabulary every ~50 rounds to truncate lineage
  * (same regime as [[Dedup.duplicateClusters]]).
  */
object Bpe {

  /** Characters of `word` joined by two spaces ("cat" → "c  a  t"). */
  def spacedChars(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1  "))

  /** Adjacent-pair structs (a, b) of a double-space-joined symbol
    * string — empty for single-symbol words.
    */
  private def adjacentPairs(sp: Column): Column = {
    val arr = split(sp, "  ")
    val n1 = greatest(size(arr) - 1, lit(0))
    zip_with(
      slice(arr, lit(1), n1), slice(arr, lit(2), n1),
      (x, y) => struct(x.as("a"), y.as("b")))
  }

  /** Learn `rounds` merges from a (word, count) vocabulary. Returns one
    * row per round: (round, left, right, pair_count, merged), where
    * pair_count is the corpus-weighted frequency that won the round
    * (ties broken by lexicographic (left, right) — the deterministic
    * convention the oracle mirrors).
    */
  def learnMerges(vocab: DataFrame, wordCol: String, countCol: String,
      rounds: Int): DataFrame =
    learn(vocab, wordCol, countCol, rounds)._1

  /** The vocabulary AFTER `rounds` merges: (token, n) — each word's
    * double-space symbol string exploded back to tokens, corpus-count
    * weighted. The trained-tokenizer readout (what the token stream
    * will look like) that pairs with [[learnMerges]]'s merge table.
    */
  def mergedVocab(vocab: DataFrame, wordCol: String, countCol: String,
      rounds: Int): DataFrame =
    learn(vocab, wordCol, countCol, rounds)._2
      .select(explode(split(col("sp"), "  ")).as("token"), col("n"))
      .groupBy(col("token"))
      .agg(sum(col("n")).cast(LongType).as("n"))

  /** Shared loop: (merge table, final (sp, n) vocabulary). */
  private def learn(vocab: DataFrame, wordCol: String, countCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var v = vocab.select(
      spacedChars(col(wordCol)).as("sp"),
      col(countCol).cast(LongType).as("n"))
    val merges = Seq.newBuilder[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = v
        .select(explode(adjacentPairs(col("sp"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).cast(LongType).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
      merges += top.select(
        lit(r.toLong).as("round"), col("a").as("left"), col("b").as("right"),
        col("cnt").as("pair_count"), concat(col("a"), col("b")).as("merged"))
      // LEFT join on a constant-true condition: when the round has no
      // learnable pair (rounds > distinct adjacent pairs), `top` is empty
      // and a cross join would silently wipe the vocabulary to zero rows;
      // the left join passes `sp` through unchanged instead (and the merge
      // table simply has fewer than `rounds` rows — the natural signal).
      v = v.join(broadcast(top), lit(true), "left")
        .select(
          when(col("a").isNull, col("sp")).otherwise(trim(expr(
            "replace(' ' || sp || ' ', ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')")))
            .as("sp"),
          col("n"))
      // Once a round finds no learnable pair, v is provably fixed and
      // every later round's pair-count aggregate + broadcast join is
      // wasted work. Probe only every 4th round, and localCheckpoint v
      // first: without the checkpoint each probe would re-execute the
      // whole r-round lineage from scratch (O(rounds²) aggregate work in
      // the common non-exhausted case); with it, a probe — and every
      // later round's planning — reaches back at most 4 rounds. Skipped
      // rounds would have contributed zero merge rows, so the output is
      // unchanged either way.
      if (r % 4 == 0 && r < rounds) {
        v = Pin(v)
        exhausted = top.isEmpty
      }
      r += 1
    }
    (merges.result().reduce(_ unionAll _), v)
  }
}
