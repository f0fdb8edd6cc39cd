package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) VOCABULARY TRAINING — the learn
  * half of tokenization, where q_token_bpe's pre-tokenizer is the apply
  * half. Classic BPE (Sennrich et al. 2016, "Neural Machine Translation
  * of Rare Words with Subword Units" — public algorithm): start from
  * characters, repeatedly find the most frequent adjacent symbol pair in
  * the corpus and merge it into one symbol; the ordered merge list IS the
  * tokenizer vocabulary.
  *
  * Scale shape: the corpus collapses to its word-frequency table in ONE
  * shuffle (tokenize → groupBy word), and every round after that operates
  * on the vocab table only — pairs-count ∝ Σ|word| over DISTINCT words,
  * not over the corpus. That reduction is what makes tokenizer training
  * feasible at 100 TB: a web-scale corpus has billions of documents but
  * a word-frequency table in the tens of millions, and each round is a
  * map + small aggregation over it.
  *
  * Determinism: the argmax pair ties break on (freq DESC, left ASC,
  * right ASC) — binary string order, identical in Spark and DuckDB — and
  * the merge application is two sequential `replace` calls on the
  * space-delimited symbol string, which equals greedy left-to-right BPE
  * merging exactly: pass one replaces all non-overlapping occurrences
  * left to right; an occurrence skipped because it shared a delimiter
  * space with the previous match is isolated afterwards (its left
  * neighbor merged), so pass two catches every survivor, and a
  * replacement can never create a fresh occurrence of the same pair
  * (the merged symbol `ab` is a single token, not `a` followed by `b`).
  * Every step being string/integer ops, reruns and the DuckDB oracle
  * reproduce the merge table byte-for-byte.
  */
object Bpe {

  /** Learn `nMerges` merges from `textCol` of `df`. Words are the
    * whitespace tokens matching `tokenRe` (letters-only by default, so
    * the symbol alphabet starts at a-z). Returns one row per merge:
    * (step 1-based, left, right, pair_freq) in learn order.
    */
  def learnMerges(df: DataFrame, textCol: String, nMerges: Int,
      tokenRe: String = "^[a-z]+$"): DataFrame = {
    require(nMerges >= 1, "learnMerges: nMerges must be >= 1")
    val spark = df.sparkSession
    // corpus -> word-frequency table (the one corpus-sized shuffle), then
    // the char-spaced symbol representation " h e l l o " (leading and
    // trailing spaces make every symbol boundary an explicit delimiter)
    var words = df
      .select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(col("tok").rlike(tokenRe))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        regexp_replace(col("tok"), "(.)", "$1 ")).as("w"), col("freq"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val best = words
        .select(split(trim(col("w")), " ").as("syms"), col("freq"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"),
          col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(desc("pf"), asc("a"), asc("b"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"learnMerges: corpus exhausted after ${step - 1} merges " +
          s"(every word is a single symbol) — asked for $nMerges")
      val (a, b, pf) = (best(0).getString(0), best(0).getString(1),
        best(0).getLong(2))
      merges += ((step, a, b, pf))
      def lit1(s: String) = "'" + s.replace("'", "''") + "'"
      val pat = lit1(s" $a $b "); val rep = lit1(s" $a$b ")
      words = words
        .withColumn("w", expr(s"replace(replace(w, $pat, $rep), $pat, $rep)"))
        .localCheckpoint(true)
    }
    import spark.implicits._
    merges.result().toDF("step", "left", "right", "pair_freq")
      .select(col("step").cast("long"), col("left"), col("right"),
        col("pair_freq"))
  }
}
