package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.BpeTokenizer

/** Tokenizer-true token accounting over the documents table (q235,
  * q236): the LLM-pipeline budget operators (q74 chunking / q76
  * packing) estimate tokens as chars/4; these two run the SAME budgets
  * on a real subword tokenizer — [[BpeTokenizer]]'s deterministic
  * greedy BPE — so what the pipeline packs is what a training job would
  * actually consume.
  *
  * Scale shape: the token count is a per-row codegen'd expression fold
  * (48 builtin `replace`s, no UDF); q235 is one keyed shuffle
  * (groupBy lang), q236 one window + one keyed shuffle partitioned by
  * lang — nothing global, nothing driver-side. The DuckDB oracle
  * replays the identical sanitize + merge chain as literal SQL
  * (BpeTokenizer.tokenCountSql), so the tokenizer itself is
  * oracle-gated, not just the aggregation around it. */
object BpeQueries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** q235: corpus token accounting per language — document counts,
    * total/max BPE tokens, and the total CHAR estimate the chars/4
    * heuristic would have claimed (the drift between the two columns is
    * the point of having a real tokenizer). */
  def bpeTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        BpeTokenizer.tokenCount(col("text")).as("tok"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("est"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        max(col("tok")).cast("long").as("max_tokens"),
        sum(col("est")).as("total_est_tokens"))
      .orderBy("lang")

  /** q236: greedy sequence packing under a TRUE token budget — q76's
    * streaming-pack rule (example_ix = floor(pre-doc running total /
    * budget)) with BPE token counts. Packing is per (lang, shard)
    * partition, shard = doc_id div 100k — distributed packing is
    * always per-shard (each worker packs its slice; budget boundaries
    * never cross shards), which keeps the window's parallelism
    * data-sized at 100 TB instead of bounded by the 5 languages. At
    * every gated fixture size the shard is a constant 0, so the
    * packing is bit-identical to the unsharded rule and the oracle
    * replays it exactly. */
  def bpePackBudget(s: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        floor(col("doc_id") / lit(100000.0)).cast("int").as("shard"),
        BpeTokenizer.tokenCount(col("text")).as("tok"))
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    docs
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("example_ix",
        floor((col("cum") - col("tok")) / lit(budget.toDouble)).cast("int"))
      .groupBy(col("lang"), col("shard"), col("example_ix"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("example_tokens"))
      .orderBy("lang", "shard", "example_ix")
  }

  /** q240: the NATIVE vocab-scale encoder gated end-to-end — per-doc
    * fully-ENCODED output (bounded prefix + full length + token count),
    * computed by the one-node BpeEncode/BpeCount expressions (the
    * 50k-vocab production path: the merge table rides the plan as one
    * reference object, never as plan size), while the oracle replays
    * the identical sanitize + 48-merge replace chain literally — so
    * the ENCODER's character output is hash-gated, not just counts. */
  def bpeEncodeNative(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.graft.GraftExpressions
      .bpeEncode(col("text"), BpeTokenizer.merges)
    t(s, dir, "documents")
      .select(col("doc_id"), enc.as("enc"))
      .select(col("doc_id"),
        substring(col("enc"), 1, 32).as("enc_prefix"),
        length(col("enc")).as("enc_len"),
        length(replace(col("enc"), lit(" "), lit(""))).as("n_tokens"))
      .orderBy("doc_id")
  }

  private def tok = BpeTokenizer.tokenCountSql("text")
  private def enc = BpeTokenizer.encodeSql("text")

  val defs: Seq[QueryDef] = Seq(
    // the oracle replays the TOKENIZER itself (sanitize + 48 literal
    // merge replays), not just the rollup — a drifted merge table or
    // replace semantics difference fails the hash
    QueryDef("q235_bpe_token_count", bpeTokenCount(_, _), Some(
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum($tok) AS BIGINT) AS total_tokens,
         | CAST(max($tok) AS BIGINT) AS max_tokens,
         | CAST(sum(CAST(ceil(length(text)/4.0) AS BIGINT)) AS BIGINT)
         |  AS total_est_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    QueryDef("q236_bpe_pack_budget", bpePackBudget(_, _), Some(
      s"""WITH toks AS (
         |  SELECT lang, doc_id,
         |   CAST(floor(doc_id/100000.0) AS INT) AS shard,
         |   $tok AS tok FROM documents),
         |cum AS (
         |  SELECT lang, shard, doc_id, tok,
         |   sum(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
         |  FROM toks)
         |SELECT lang, shard, CAST(floor((cum - tok)/256.0) AS INT) AS example_ix,
         | count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS example_tokens
         |FROM cum GROUP BY lang, shard, example_ix
         |ORDER BY lang, shard, example_ix""".stripMargin)),
    // the ENCODED CHARACTERS are gated, not just counts: the native
    // heap-walk encoder's output must hash-match the literal replace
    // chain (prefix bounded to 32 chars; full length + token count
    // cover the rest of the string)
    QueryDef("q240_bpe_encode_native", bpeEncodeNative(_, _), Some(
      s"""SELECT doc_id, substr(e, 1, 32) AS enc_prefix,
         | CAST(length(e) AS INT) AS enc_len,
         | CAST(length(replace(e, ' ', '')) AS INT) AS n_tokens
         |FROM (SELECT doc_id, $enc AS e FROM documents)
         |ORDER BY doc_id""".stripMargin)))
}
