package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The BPE tokenizer family's one module: the '|tok||tok|' delimited
  * encoding, the merge chain over it, the training loop, and the DuckDB
  * twins of the serving queries. q176 trains 3 rounds with [[train]];
  * `graft.BpeArtifactGen` trains 16 with the same loop and freezes them
  * as [[BpeMergesArtifact]], which q182 and q190 apply with [[merged]].
  *
  * The encoding is what makes a merge one string operation: a literal
  * `replace('|a||b|' → '|a+b|')` IS the greedy left-to-right
  * non-overlapping BPE merge, on both engines (BpeMergeSpec pins it
  * against an imperative reference). Training has no SQL twin beyond
  * q176's 3 unrolled rounds, but APPLYING a persisted merge table is a
  * pure function of literals, so the oracle evaluates the exact same
  * chained `replace` calls — the q137b/q164 train/serve discipline
  * applied to the tokenizer. */
object Bpe {

  /** One learned merge: left token, right token, and the pair count at
    * the round it won. */
  type Merge = (String, String, Long)

  /** The delimited encoding `s` = '|tok||tok|' of `text`, beside the
    * `keep` columns. Empty tokens and tokens holding the '|' or '+'
    * delimiter chars are dropped first, identically in the twins: with no
    * empty boundary token, `s` carries exactly one leading and one
    * trailing '|', so Spark's strip-one-pipe ([[tokens]]) and DuckDB's
    * `trim(s, '|')` agree. */
  def encode(docs: DataFrame, keep: Seq[String] = Seq("doc_id")): DataFrame =
    docs.select(keep.map(col) :+
      concat(lit("|"), array_join(filter(split(col("text"), " "), x =>
        x =!= "" && !x.contains("|") && !x.contains("+")), "||"),
        lit("|")).as("s"): _*)

  /** The tokens of an encoded string. */
  def tokens(s: Column): Column = split(regexp_replace(s, "^\\||\\|$", ""), "\\|\\|")

  /** `s` with `merges` applied in order: one literal `replace` each. */
  def merged(s: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(s) { case (c, (a, b, _)) =>
      call_function("replace", c, lit(s"|$a||$b|"), lit(s"|$a+$b|"))
    }

  /** Up to `rounds` rounds of BPE training over `encoded`'s `s`: count
    * the adjacent token pairs, take the most frequent (ties: left token,
    * then right token, ascending), merge it. Training stops early at the
    * first round with no pair left.
    *
    * The encoded corpus is cut ONCE by an eager `localCheckpoint`; round
    * r reads it through the r−1 winners' literal [[merged]] chain, which
    * is by definition round r's corpus, so a round is one pair-count
    * aggregate and one 1-row `collect` — no per-round corpus or winner
    * materialization, no broadcast. Returns the checkpointed `s` (for a
    * caller's per-round aggregates over `merged(col("s"), …)`) and the
    * merges in the order they won. */
  def train(encoded: DataFrame, rounds: Int): (DataFrame, Seq[Merge]) = {
    val corpus = encoded.select(col("s")).localCheckpoint(true)
    def winner(done: Seq[Merge]): Option[Merge] = {
      val t = col("t")
      corpus
        .select(tokens(merged(col("s"), done)).as("t"))
        // adjacent pairs as two offset slices, zipped without a lambda
        // (codegen'd); a one-token row has none
        .select(inline(arrays_zip(
          slice(t, lit(1), size(t) - 1).as("a"), slice(t, lit(2), size(t)).as("b"))))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect().headOption
        .map(w => (w.getString(0), w.getString(1), w.getLong(2)))
    }
    @annotation.tailrec
    def loop(done: Vector[Merge]): Vector[Merge] =
      if (done.length == rounds) done
      else winner(done) match {
        case Some(w) => loop(done :+ w)
        case None    => done
      }
    (corpus, loop(Vector.empty))
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The merged string: replace chain in artifact order, innermost first. */
  private def mergedExpr(base: String): String =
    BpeMergesArtifact.merges.foldLeft(base) { case (e, (a, b, _)) =>
      s"replace($e, ${sqlLit(s"|$a||$b|")}, ${sqlLit(s"|$a+$b|")})"
    }

  /** Twin of q182's per-document token accounting over the frozen merge
    * chain. */
  def oracleSql: String = {
    s"""
      WITH enc AS (
        SELECT doc_id,
          '|' || array_to_string(list_filter(string_split(text, ' '),
            x -> x <> '' AND NOT contains(x, '|') AND NOT contains(x, '+')),
            '||') || '|' AS s
        FROM documents),
      applied AS (
        SELECT doc_id,
          CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok_raw,
          CAST(len(string_split(trim(${mergedExpr("s")}, '|'), '||')) AS BIGINT)
            AS n_tok_bpe
        FROM enc)
      SELECT doc_id, n_tok_raw, n_tok_bpe,
        n_tok_raw - n_tok_bpe AS n_merged
      FROM applied"""
  }

  /** Twin of q190's per-language fertility rollup over the same frozen
    * merge chain: raw/BPE token totals, raw token chars, and the
    * chars-per-BPE-token compression ratio (one micro-rounded division of
    * exact BIGINT sums). */
  def fertilitySql: String = {
    s"""
      WITH enc AS (
        SELECT lang,
          '|' || array_to_string(list_filter(string_split(text, ' '),
            x -> x <> '' AND NOT contains(x, '|') AND NOT contains(x, '+')),
            '||') || '|' AS s
        FROM documents),
      applied AS (
        SELECT lang,
          CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS raw,
          CAST(len(string_split(trim(${mergedExpr("s")}, '|'), '||')) AS BIGINT)
            AS bpe,
          CAST(list_sum(list_transform(string_split(trim(s, '|'), '||'),
            x -> len(x))) AS BIGINT) AS chars
        FROM enc)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(raw) AS BIGINT) AS raw_tokens,
        CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        CAST(sum(chars) AS BIGINT) AS token_chars,
        floor(CAST(sum(chars) AS BIGINT)::DOUBLE / CAST(sum(bpe) AS BIGINT)
          * 1000000 + 0.5) / 1000000 AS chars_per_bpe_token
      FROM applied GROUP BY 1"""
  }
}
