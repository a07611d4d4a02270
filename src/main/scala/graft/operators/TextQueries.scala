package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Text-analysis operators for large-scale training-data pipelines over
  * the `documents` table: exact dedup, fingerprinting, language ID,
  * quality scoring, token counting, n-gram Jaccard near-dup. All built
  * from codegen'd `functions._` — no UDFs — so they stay inside
  * whole-stage codegen and scale linearly with the corpus.
  */
object TextQueries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Whitespace-normalized lowercase form used by fingerprint/ngram ops.
    * The whitespace class is written out explicitly ([ \t\n\x0B\f\r] =
    * exactly Java's \s) because RE2-based engines define \s WITHOUT
    * vertical tab — with a bare \s the same document would normalize
    * differently in Spark and in the DuckDB oracle. */
  private[operators] val wsClass = "[ \\t\\n\\x0B\\f\\r]+"
  private def norm(c: Column): Column = lower(regexp_replace(c, wsClass, " "))

  /** Char 3-grams, empty-safe: sequence(1, len-2) with len < 3 produces
    * a DESCENDING sequence (Spark infers step -1) and garbage substr
    * positions. Guarded branch-free — a when() around the transform
    * compiles ~6x slower in whole-stage codegen (measured 3.1s vs 0.5s
    * first-call at sf0.1) because conditional branches defeat
    * subexpression elimination. Instead: clamp the sequence to at least
    * one position, then drop any short gram (a full gram is always
    * exactly 3 chars, so the filter is a no-op on valid text and
    * removes the one garbage gram of degenerate text). */
  private def grams3(c: Column): Column =
    filter(
      transform(sequence(lit(1), greatest(length(c) - 2, lit(1))),
        i => c.substr(i, lit(3))),
      g => length(g) === 3)

  /** Exact dedup: keep the lowest doc_id per content hash (hash-groupBy;
    * at 100 TB this is one shuffle on the 128-bit hash, no full-text
    * comparisons). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Ops.dedupKeepFirst(
      t(s, dir, "documents").withColumn("h", md5(col("text"))),
      Seq(col("h")), Seq(col("doc_id")))
      .select(col("doc_id"), col("h"))
      .orderBy("doc_id")

  /** Per-document stats: char/token counts, alpha/digit/punct counts,
    * and a simple quality score (stopword share + alpha share). */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val nTokens = size(split(trim(txt), wsClass))
    val nStop = regexp_count(lower(txt), lit("\\b(the|a|and|of|to|in|is|it)\\b"))
    val nAlpha = regexp_count(txt, lit("[A-Za-z]"))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        length(txt).as("n_chars"),
        nTokens.as("n_tokens"),
        nAlpha.as("n_alpha"),
        regexp_count(txt, lit("[0-9]")).as("n_digit"),
        regexp_count(txt, lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]")).as("n_punct"),
        round(nStop.cast("double") / nTokens, 6).as("stopword_ratio"),
        round(length(txt).cast("double") / nTokens, 6).as("avg_token_span"),
        round(nStop.cast("double") / nTokens * 0.5
          + nAlpha.cast("double") / length(txt) * 0.5, 6).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Language-marker hit counts (shared by q52 and the q68 gate). */
  private def langHits(txt: Column): Seq[(String, Column)] = {
    val lo = lower(txt)
    Seq(
      "en_hits" -> regexp_count(lo, lit("\\b(the|and|of|to|in|is)\\b")),
      "de_hits" -> regexp_count(lo, lit("\\b(der|die|das|und|ist|nicht)\\b")),
      "fr_hits" -> regexp_count(lo, lit("\\b(le|la|les|et|est|une)\\b")),
      "es_hits" -> regexp_count(lo, lit("\\b(el|los|las|y|es|una)\\b")),
      "cjk_hits" -> regexp_count(txt, lit("[\\x{4e00}-\\x{9fff}]")))
  }

  private def predictedLang(en: Column, de: Column, fr: Column, es: Column,
      cjk: Column): Column =
    when(cjk > 0, "zh")
      .when(en >= greatest(de, fr, es), "en")
      .when(de >= greatest(fr, es), "de")
      .when(fr >= es, "fr")
      .otherwise("es")

  /** Heuristic language ID: marker-word / CJK-codepoint hit counts with a
    * fixed-precedence argmax. */
  def langId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(Seq(col("doc_id"), col("lang").as("lang_label")) ++
        langHits(col("text")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("predicted",
        predictedLang(col("en_hits"), col("de_hits"), col("fr_hits"),
          col("es_hits"), col("cjk_hits")))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens and a BPE-ish lexer regex
    * (letter runs | digit runs | single non-alnum symbols). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(split(trim(col("text")), wsClass)).as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]")).as("bpe_tokens"),
        round(length(col("text")).cast("double") / 4.0, 2).as("approx_llm_tokens"))
      .orderBy("doc_id")

  /** Document fingerprint: hash of the whitespace-normalized content —
    * the join key for exact near-line dedup across shards. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), md5(norm(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** Character-3-gram Jaccard similarity of every document against a
    * reference document (doc_id 0) — the verification kernel under
    * MinHash near-dup (DedupOps.minhashPairs estimates exactly this). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // filter on the NORMALIZED length: a raw-length gate would admit
    // whitespace-heavy docs whose normalized form is shorter than a gram
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(grams3(col("t"))).as("g"))
    val ref = docs.filter(col("doc_id") === 0).select(col("g").as("ref_g"))
    docs.crossJoin(broadcast(ref))
      .select(col("doc_id"),
        round(size(array_intersect(col("g"), col("ref_g"))).cast("double")
          / (size(col("g")) + size(col("ref_g")) - size(array_intersect(col("g"), col("ref_g")))),
          6).as("jaccard"))
      .orderBy("doc_id")
  }

  /** The registered-function surface as a DECLARED query: exact
    * 5-byte-gram Jaccard of every document against doc 0, written as a
    * pure SQL STRING over the native kernels (gram_set,
    * sorted_intersect_size, minhash_sig) — the path a SQL-only user
    * takes through GraftExtensions' FunctionRegistry. q94 pins
    * cosine_sim/SQL; this pins the gram/minhash kernels, so a
    * registration regression (name, arity, return type) fails the
    * driver gate instead of only a unit test. `sig_k` (the size of a
    * k=16 minhash signature) is constant by construction — the oracle
    * checks it as a literal; the jaccard values are exact int/int IEEE
    * divisions recomputed brute-force by DuckDB (q58's gram machinery
    * restricted to pairs with doc 0). The whitespace class is built
    * from chr() calls because a regex-escape literal would be mangled
    * by SQL string escape processing. */
  def sqlGramKernels(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("documents")) { v =>
      s"""WITH n AS (
         |  SELECT doc_id,
         |    lower(regexp_replace(text,
         |      concat('[ ', chr(9), chr(10), chr(11), chr(12), chr(13), ']+'), ' ', 'g')) AS t
         |  FROM ${v("documents")} WHERE length(text) >= 5),
         |g AS (SELECT doc_id, t, gram_set(t, 5) AS gs FROM n),
         |gg AS (SELECT doc_id, t, gs FROM g WHERE size(gs) > 0),
         |r AS (SELECT gs AS rg FROM gg WHERE doc_id = 0)
         |SELECT gg.doc_id,
         |  size(minhash_sig(t, 16, 5)) AS sig_k,
         |  sorted_intersect_size(gs, rg) AS intersect_size,
         |  size(gs) AS n_grams,
         |  CAST(sorted_intersect_size(gs, rg) AS DOUBLE)
         |    / (size(gs) + size(rg) - sorted_intersect_size(gs, rg)) AS jaccard
         |FROM gg CROSS JOIN r
         |ORDER BY doc_id""".stripMargin
    }

  /** Repetition ratio — the share of repeated character 3-grams
    * (1 − distinct/total), a standard low-quality-text signal
    * (boilerplate and spam repeat heavily). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val t3 = col("t")
    val total = length(t3) - 2
    val distinctG = size(array_distinct(grams3(t3)))
    t(s, dir, "documents")
      .select(col("doc_id"), norm(col("text")).as("t"))
      .filter(length(t3) >= 3) // normalized length — see ngramJaccard
      .select(col("doc_id"),
        total.cast("int").as("total_grams"),
        distinctG.as("distinct_grams"),
        round(lit(1.0) - distinctG.cast("double") / total, 6).as("repetition_ratio"))
      .orderBy("doc_id")
  }

  /** Reproducible 80/10/10 train/val/test split of the corpus by
    * content-hash bucketing (Ops.hashSplit) + per-split stats. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        Ops.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("split")

  /** The end-to-end training-corpus cleaning pipeline — the composition
    * a real 100 TB preprocess run executes, as ONE declared dataflow:
    *
    *   1. language gate (keep predicted English),
    *   2. quality gate (≥20 whitespace tokens),
    *   3. exact dedup (lowest doc_id per normalized-content fingerprint),
    *   4. near-dup removal over the MinHash→verify pair set (q58):
    *      greedy by id, non-iterative — drop d when some surviving a<d
    *      is its verified near-dup (a's own later removal does not
    *      resurrect d; the rule stays single-pass and engine-agnostic),
    *   5. annotate survivors with BPE-ish token counts and the
    *      reproducible hash split.
    *
    * Every stage is a shuffle-bounded dataflow (gates are per-row,
    * dedup is one hash shuffle, near-dup is the LSH pipeline, the
    * removal joins are semi/anti on doc_id), so the composition scales
    * exactly as its parts. Oracle: the same five stages in SQL with
    * brute-force near-dup pairs.
    */
  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // gates 1+2 are inline predicates on ONE scan (joining the q52/q51
    // frames back on doc_id would read the corpus three times and add
    // two shuffles for what is per-row arithmetic)
    val hits = langHits(col("text")).toMap
    val gated = docs.filter(
      predictedLang(hits("en_hits"), hits("de_hits"), hits("fr_hits"),
        hits("es_hits"), hits("cjk_hits")) === "en" &&
        size(split(trim(col("text")), wsClass)) >= 20)
    val deduped = Ops.dedupKeepFirst(
        gated.withColumn("fp", md5(norm(col("text")))),
        Seq(col("fp")), Seq(col("doc_id")))
      .select("doc_id")
    val removed = DedupOps.neardupVerifiedRaw(s, dir)
      .join(deduped.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("doc_id")).distinct()
    deduped.join(removed, Seq("doc_id"), "left_anti")
      .join(docs, "doc_id")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"))
          .as("bpe_tokens"),
        Ops.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .orderBy("doc_id")
  }

  /** Heavy-hitter tokens via the Misra–Gries sketch (candidate pass:
    * bounded k-counter summaries per task, merged associatively) +
    * exact re-count of candidates (verify pass: one semi-join groupBy).
    * The sketch's survival guarantee — every token with frequency >
    * n/(k+1) is in the candidate set under any merge order — makes the
    * verified output EXACTLY the tokens above the n/k threshold, so a
    * one-pass bounded-memory sketch yields a fully oracle-checkable
    * answer. At 100 TB this replaces a full-vocabulary groupBy (memory
    * ∝ distinct tokens) with memory ∝ k per task. */
  def heavyHitterTokens(s: SparkSession, dir: String, k: Int = 256): DataFrame = {
    import s.implicits._
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val mg = udaf(new graft.functions.MisraGries(k))
    // sketch AND total in the same pass — no extra corpus scan for n
    val row = words.agg(mg(col("w")).as("cands"), count(lit(1)).as("total")).head()
    val total = row.getLong(1)
    val cands = row.getSeq[String](0).toDF("w")
    words.join(broadcast(cands), Seq("w"), "left_semi")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(total) / k.toDouble)
      .orderBy(col("cnt").desc, col("w"))
  }

  /** Deterministic overlapping-window chunking — the document→chunk
    * explosion every training/RAG pipeline runs before tokenization or
    * embedding. Pure per-row arithmetic (sequence + substr + explode):
    * no shuffle at all until the final presentation sort, chunk ids are
    * stable functions of (doc_id, offset) so reprocessing a shard
    * yields identical chunks, and at 100 TB the operator is a map-only
    * stage that pipelines into whatever consumes the chunks. `size`
    * chars per chunk, `stride` = size − overlap; the last window keeps
    * its tail remainder. */
  def chunkDocuments(s: SparkSession, dir: String, size: Int = 200,
      stride: Int = 150): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest(ceil((length(col("text")) - size)
            / lit(stride.toDouble)), lit(0)).cast("int")),
          i => substring(col("text"), i * stride + 1, lit(size))))
          .as(Seq("chunk_ix", "chunk")))
      .select(col("doc_id"), col("chunk_ix"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_ix")

  /** Deterministic stratified sampling: per-language target rates
    * applied via content-hash bucketing (the q39 trick at row level) —
    * downsampling over-represented strata is how a corpus's language
    * mix is rebalanced before training. Unlike rand()-based sample(),
    * membership is a pure function of (doc_id, seed): re-runs, engine
    * changes, and repartitioning keep the same sample, and the oracle
    * recomputes it exactly. Per-stratum counts + kept-id checksum keep
    * the output compact. */
  def stratifiedSample(s: SparkSession, dir: String,
      rates: Map[String, Double] = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0,
        "es" -> 1.0, "zh" -> 1.0)): DataFrame = {
    val v = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":sample"))), 1, 4), 16, 10).cast("int")
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    t(s, dir, "documents")
      .filter(v < rate * 65536)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")
  }

  /** Sequence packing: chunks are packed greedily, in order, into
    * fixed token-budget training examples — one window cumsum per
    * document, so packing parallelizes across docs with a single
    * shuffle on doc_id. example_ix = which budget-full bin the chunk
    * starts in (floor of the pre-chunk running total / budget) — the
    * standard streaming-pack rule, deterministic given chunk order. */
  def packSequences(s: SparkSession, dir: String, budget: Int = 100): DataFrame = {
    val chunks = chunkDocuments(s, dir)
      .withColumn("tokens", ceil(col("chunk_len") / lit(4.0)).cast("int"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_ix"))
    chunks
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("example_ix",
        floor((col("cum") - col("tokens")) / lit(budget.toDouble)).cast("int"))
      .groupBy(col("doc_id"), col("example_ix"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("tokens")).as("example_tokens"))
      .orderBy("doc_id", "example_ix")
  }

  /** Hash-PORTABLE SimHash: the q57 kernel uses an engine-specific
    * mix64 for speed, so its values are rows-only; this variant derives
    * every feature hash from md5 — standardized, so any engine (or a
    * future migration off Spark) reproduces the fingerprints bit-for-
    * bit, which is what makes a dedup fingerprint durable as an
    * ORGANIZATIONAL artifact rather than a per-engine one. Char
    * 3-grams → 64 bits from the first 16 md5 hex digits → per-bit ±1
    * votes → sign — classic SimHash, emitted as a 16-hex-char string
    * (no 64-bit integer anywhere, so no signed-overflow hazards in
    * either engine). One explode + one groupBy(doc_id): scales as a
    * single shuffle of (doc, 16 small ints). */
  def simhashPortable(s: SparkSession, dir: String): DataFrame = {
    val docs = Ops.spread(t(s, dir, "documents")) // per-gram md5 ≫ row copy
      .select(col("doc_id"), norm(col("text")).as("t"))
      .filter(length(col("t")) >= 3) // normalized length — see ngramJaccard
    val grams = docs.select(col("doc_id"),
      explode(grams3(col("t"))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    val digits = (0 until 16).map(i =>
      conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as(s"d$i"))
    val bitSums = (0 until 64).map { b =>
      val bit = shiftrightunsigned(col(s"d${b / 4}"), 3 - (b % 4))
        .bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = grams.select(col("doc_id") +: digits: _*)
      .groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val hexCols = (0 until 16).map { i =>
      val v = (0 until 4).map(j =>
        when(col(s"s${4 * i + j}") > 0, lit(8 >> j)).otherwise(lit(0)))
        .reduce(_ + _)
      lit("0123456789abcdef").substr(v + 1, lit(1))
    }
    sums.select(col("doc_id"), concat(hexCols: _*).as("simhash_hex"))
      .orderBy("doc_id")
  }

  /** PII scrubbing pass — the redaction stage every training-corpus
    * pipeline runs before release. Detects emails, URLs, and
    * phone-like number runs with conservative patterns written to mean
    * the same thing in Java regex and RE2 (explicit classes, no \w/\d
    * shorthand, no backrefs), counts them per document, and reports
    * the redacted length — per-row arithmetic that scales as a
    * map-only stage. The oracle runs the identical patterns in DuckDB:
    * detection AND redaction must agree engine-for-engine, or the
    * "clean" corpus depends on which engine cleaned it. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val url = "https?://[A-Za-z0-9./_%+#?&=-]+"
    val phone = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
    // the synthetic corpus contains no PII-shaped strings, so the scrub
    // pass would be vacuous on it; inject deterministic test vectors
    // (id-dependent, mirrored exactly in the oracle) so the detection
    // AND redaction paths are exercised on real pattern occurrences —
    // redacted lengths then depend on each doc_id's digit count, which
    // makes the parity check substantive
    val txt = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
        .otherwise(""),
      when(col("doc_id") % 5 === 0,
        concat(lit(" see https://example.com/d/"), col("doc_id")))
        .otherwise(""),
      when(col("doc_id") % 7 === 0, lit(" call 555-867-5309")).otherwise(""))
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(txt, email, "<EMAIL>"), url, "<URL>"),
      phone, "<PHONE>")
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        regexp_count(txt, lit(email)).as("n_emails"),
        regexp_count(txt, lit(url)).as("n_urls"),
        regexp_count(txt, lit(phone)).as("n_phones"),
        length(txt).as("len_raw"),
        length(redacted).as("len_redacted"))
      .filter(col("n_emails") + col("n_urls") + col("n_phones") > 0)
      .orderBy("doc_id")
  }

  /** Incremental ingestion dedup — the steady-state shape of a corpus
    * that grows batch by batch: an incoming batch (doc_id >= 250 here;
    * in production, today's crawl) is admitted only after dropping
    * (a) exact duplicates within the batch, (b) exact matches of
    * already-ingested fingerprints, and (c) near-duplicates of
    * existing documents (the verified MinHash pair set restricted to
    * existing→incoming edges). All three gates are anti-joins keyed by
    * fingerprint or doc id, so the incremental cost is the batch size,
    * not the corpus size — the property that keeps ingestion dedup
    * viable as the accumulated corpus reaches 100 TB. */
  def incrementalDedup(s: SparkSession, dir: String, batchStart: Long = 250): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("fp", md5(norm(col("text"))))
    val existingFps = docs.filter(col("doc_id") < batchStart).select("fp")
    val incoming = docs.filter(col("doc_id") >= batchStart)
    val exactOk = Ops.dedupKeepFirst(incoming, Seq(col("fp")), Seq(col("doc_id")))
      .join(existingFps, Seq("fp"), "left_anti")
    val nearExisting = DedupOps.neardupVerifiedRaw(s, dir)
      .filter(col("a") < batchStart && col("b") >= batchStart)
      .select(col("b").as("doc_id")).distinct()
    exactOk.join(nearExisting, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Corpus-statistical quality score: mean unigram log-probability per
    * document — the cheap stand-in for the LM-perplexity gate training
    * pipelines run (documents whose tokens are improbable under the
    * corpus distribution are boilerplate, garbage, or wrong-language).
    * Two passes: global unigram counts (one groupBy), then per-doc
    * mean log10 p(token) via a token→frequency join. Float-parity
    * design: each token's log-prob is quantized to integer 1e-4 units
    * BEFORE the per-doc sum, so the aggregate is order-independent and
    * engine-exact (a double sum's fold order would differ across
    * shuffles and engines); the final mean is two IEEE divisions of
    * exact integers. */
  def unigramLogProb(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = toks.count()
    val scored = toks.join(freq, "w")
      .withColumn("lp_micro",
        round(log10(col("cnt").cast("double") / lit(total.toDouble)) * 1e4)
          .cast("long"))
    scored.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("lp_micro")).cast("double") / count(lit(1)) / 1e4)
          .as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination — the overlap check run before training
    * so eval data doesn't leak into the corpus: a document is flagged
    * when it shares any normalized char-8-gram with the benchmark set
    * (long grams make coincidental overlap rare; real leakage shares
    * many). Here the "benchmark" is doc_id < 10 standing in for an
    * eval set. Shape: the benchmark's distinct grams are a broadcast
    * semi-join filter against the exploded corpus grams — at 100 TB
    * the benchmark side is tiny and broadcast, so the check is one
    * map-side-filtered pass over the corpus, and the output is the
    * flagged docs with their matching-gram counts (the triage signal
    * for manual review vs automatic drop). */
  def decontaminate(s: SparkSession, dir: String, benchmarkMaxId: Long = 10,
      gramLen: Int = 8): DataFrame = {
    def grams(c: Column): Column =
      filter(
        transform(sequence(lit(1), greatest(length(c) - (gramLen - 1), lit(1))),
          i => c.substr(i, lit(gramLen))),
        g => length(g) === gramLen)
    val docs = Ops.spread(t(s, dir, "documents")) // 8-gram build ≫ row copy
      .select(col("doc_id"), norm(col("text")).as("t"))
    val benchGrams = docs.filter(col("doc_id") < benchmarkMaxId)
      .select(explode(grams(col("t"))).as("g")).distinct()
    docs.filter(col("doc_id") >= benchmarkMaxId)
      .select(col("doc_id"), explode(array_distinct(grams(col("t")))).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** Corpus-internal duplicated-shingle ratio — the substring-level
    * duplication signal (trained-on-memorized-text risk) that document-
    * level dedup can't see: a document may be globally unique while
    * most of its word 5-grams are boilerplate shared with other
    * documents. For each document: the fraction of its DISTINCT word
    * 5-grams that occur in at least one other document. Shape: one
    * explode to (gram, doc_id), one groupBy for corpus-wide gram
    * document-frequencies, one join back — the exact-substring-dedup
    * dataflow, linear in corpus size with a single shuffle keyed by
    * gram. The ratio is one int/int IEEE division (engine-exact). */
  def dupGramRatio(s: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val docs = Ops.spread(t(s, dir, "documents")) // shingle explosion ≫ row copy
      .select(col("doc_id"),
        filter(split(norm(col("text")), " "), w => w =!= "").as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("g"))
    // grams are distinct per doc, so count(*) per gram IS its document
    // frequency
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
    grams.join(freq, "g")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_ratio",
        col("n_dup_grams").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }

  /** Deterministic dataset mixing — the weighted-epoch upsampling step
    * that turns per-source mixture weights into a concrete training
    * corpus: a document with weight w is emitted floor(w) times, plus
    * once more when its content hash lands below frac(w) (the same
    * md5-bucket device as hashSplit/stratifiedSample, so replication is
    * reproducible across runs, engines, and partitionings — rand()
    * would resample every run and every shuffle). Map-only explode: no
    * shuffle, output size = sum of weights. */
  def mixUpsample(s: SparkSession, dir: String): DataFrame = {
    val w = when(col("lang") === "en", lit(2.5)).otherwise(lit(1.25))
    val v = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 4),
      16, 10).cast("int")
    val copies = (floor(w).cast("int") +
      when(v < (w - floor(w)) * 65536, 1).otherwise(0)).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), copies.as("__copies"))
      // weights below 1.0 (downsampling) give 0 copies for some docs:
      // those must be DROPPED — sequence(0, -1) would infer step -1 and
      // emit two phantom rows (the descending-sequence gotcha)
      .filter(col("__copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), col("__copies") - 1)).as("copy_ix"))
      .orderBy("doc_id", "copy_ix")
  }

  /** TF-IDF top terms per document — the classic retrieval/keyword
    * signal: score = tf · ln(N/df), top 3 per doc. Two corpus
    * aggregates (term frequencies, document frequencies) and one join
    * back; the per-doc ranking window partitions by doc_id, a
    * high-cardinality key that runs at full parallelism. Ranking is on
    * the ROUNDED score (ties broken by term) so the order is
    * engine-exact: tf and df are exact integers and N/df→ln→product is
    * identical IEEE arithmetic in both engines. */
  def tfidfTopTerms(s: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val toks = Ops.spread(t(s, dir, "documents")) // token explosion ≫ row copy
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .transform(graft.util.Checkpoints.truncate) // consumed three times below; the token
    // explosion (the query's largest intermediate) must shuffle ONCE —
    // df and nDocs both derive from the reduced tf frame, not the raw
    // token stream
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = tf.select(col("doc_id")).distinct().count()
    val scored = tf.join(df, "w")
      .withColumn("score",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
    Ops.topKPerGroup(scored, Seq(col("doc_id")),
        Seq(col("score").desc, col("w")), topK)
      .select(col("doc_id"), col("rank"), col("w").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Vocabulary coverage / out-of-vocabulary rate per document — the
    * gate every tokenizer-bound training pipeline runs: how much of
    * each document is covered by the model's vocabulary? The vocab here
    * is the corpus's own top-`topK` words (count desc, word asc — a
    * total order, so the cut at rank K is engine-exact); production
    * swaps in the real tokenizer vocab as a small table. Plan shape:
    * one wordcount shuffle → top-K (TakeOrderedAndProject — only K
    * rows ever leave the executors) → BROADCAST back onto the token
    * stream (map-side membership test, no second shuffle of the
    * exploded tokens) → per-doc aggregate. oov_ratio is one int/int
    * IEEE division — bit-identical across engines, no rounding. */
  def vocabCoverage(s: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(topK)
      .select(col("w"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_ratio",
        col("n_oov").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Character-distribution Shannon entropy per document — the cheap
    * gibberish/encoding-noise detector (natural text sits ~4 bits/char;
    * base64 blobs and key-mash noise push toward log2|alphabet|, single
    * -char repetition toward 0). Relational formulation: explode to
    * (doc, char), count, window-sum to per-doc totals, fold
    * -Σ p·log2 p. The (doc_id, ch) key is high-cardinality → full
    * parallelism; the per-doc window runs over each doc's alphabet
    * (≤ a few hundred rows), not its text. Rounded to 6 decimals so the
    * engine's partial-aggregation order can't flip a last-ulp bit vs
    * the oracle. */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    // NO Ops.spread here (r12 A/B): the per-char explode is one split
    // call per row — cheaper than round-robin-copying the text, and the
    // (doc_id, ch) groupBy re-shuffles everything anyway. Measured
    // 0.28 s → 0.88 s WITH a spread — rejected.
    val counts = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
    val p = col("cnt").cast("double") / col("n")
    counts
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_chars"),
        round(-sum(p * log2(p)), 6).as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** Corpus-wide CHUNK-level exact dedup with ordered reassembly — the
    * sub-document granularity (Common-Crawl-style paragraph dedup)
    * missing between whole-doc dedup (q50) and near-dup (q56/q58):
    * boilerplate repeated ACROSS documents is removed from every copy
    * but the first, and each document is reassembled from its surviving
    * chunks in order. Chunks are non-overlapping `w`-word windows;
    * "first" is the global (doc_id, chunk_ix) minimum.
    *
    * Scale shape: first-occurrence is a `min(struct(doc_id, ix))`
    * AGGREGATION on the chunk key, not a `row_number` window — partial
    * aggregation collapses duplicate chunks map-side, so a boilerplate
    * chunk repeated 10^8 times crosses the shuffle as one row per input
    * partition instead of hot-spotting a single window task. Per-doc
    * chunk totals are recomputed map-only from the word count (no
    * second pass over exploded chunks, no cache); a document can lose
    * every chunk, hence the left join + empty-string md5 for its
    * reassembly. Output stays compact at any corpus size: one row per
    * doc with the reassembled text carried as its md5.
    *
    * Reference analog: none (the reference has no sub-document ops) —
    * this generalizes its CSV-level row dedup (data_processor.py's
    * drop_duplicates) to shared-substring granularity. */
  def chunkDedup(s: SparkSession, dir: String, w: Int = 4): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // map-only per-doc totals (no explode, no shuffle beyond doc_id)
    val stats = docs.select(col("doc_id"),
      ceil(size(col("ws")) / lit(w.toDouble)).cast("long").as("n_chunks"))
    val chunks = docs.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), ceil(size(col("ws")) / lit(w.toDouble)).cast("int") - 1),
        i => array_join(slice(col("ws"), i * lit(w) + lit(1), lit(w)), " ")))
        .as(Seq("ix", "chunk")))
    val kept = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("ix"))).as("win"))
      .select(col("win.doc_id").as("k_doc"), col("win.ix").as("ix"), col("chunk"))
      .groupBy(col("k_doc"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("ix"), col("chunk")))),
            x => x.getField("chunk")), " ")).as("kept_md5"))
    stats.join(kept, col("doc_id") === col("k_doc"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q192_chunk_dedup", chunkDedup(_, _), Some(
      """WITH ch AS (
        |  SELECT doc_id, i AS ix,
        |         array_to_string(array_slice(ws, i*4+1, i*4+4), ' ') AS chunk
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |   LATERAL unnest(range(0, CAST(ceil(len(ws)/4.0) AS BIGINT))) AS g(i)),
        |r AS (
        |  SELECT doc_id, ix, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ix) AS rn
        |  FROM ch),
        |kept AS (
        |  SELECT doc_id AS k_doc, count(*) AS n_kept,
        |         md5(array_to_string(list_transform(
        |           list_sort(list(lpad(CAST(ix AS STRING), 10, '0') || chunk)),
        |           s -> substr(s, 11)), ' ')) AS kept_md5
        |  FROM r WHERE rn = 1 GROUP BY doc_id),
        |stats AS (
        |  SELECT doc_id,
        |         CAST(ceil(len(string_split(text, ' '))/4.0) AS BIGINT) AS n_chunks
        |  FROM documents)
        |SELECT s.doc_id, s.n_chunks,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.kept_md5, md5('')) AS kept_md5
        |FROM stats s LEFT JOIN kept k ON s.doc_id = k.k_doc
        |ORDER BY s.doc_id""".stripMargin)),
    QueryDef("q103_char_entropy", charEntropy, Some(
      """WITH counts AS (
        |  SELECT doc_id, ch, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
        |  WHERE ch <> '' GROUP BY 1, 2),
        |wn AS (
        |  SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n
        |  FROM counts)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        | round(-sum((CAST(cnt AS DOUBLE) / n) * log2(CAST(cnt AS DOUBLE) / n)), 6)
        |  AS entropy_bits
        |FROM wn GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q99_vocab_coverage", vocabCoverage(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |vocab AS (SELECT w FROM toks GROUP BY w ORDER BY count(*) DESC, w LIMIT 100)
        |SELECT t.doc_id, count(*) AS n_tokens,
        | CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
        | CAST(count(*) FILTER (WHERE v.w IS NULL) AS DOUBLE) / count(*) AS oov_ratio
        |FROM toks t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),
    QueryDef("q89_tfidf", tfidfTopTerms(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
        |n AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
        |scored AS (
        |  SELECT doc_id, w, tf, df,
        |   round(tf * ln(CAST(nd AS DOUBLE) / df), 6) AS score
        |  FROM tf JOIN df USING (w), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS INT) AS rank, w AS term,
        | CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin)),
    QueryDef("q84_dup_gram_ratio", dupGramRatio(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id,
        |   list_filter(string_split(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')), ' '),
        |     w -> w <> '') AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |   array_to_string(array_slice(toks, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM dd)),
        |freq AS (SELECT g, count(*) AS n_docs FROM grams GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(count(*) FILTER (WHERE n_docs >= 2) AS BIGINT) AS n_dup_grams,
        | CAST(count(*) FILTER (WHERE n_docs >= 2) AS DOUBLE) / count(*) AS dup_ratio
        |FROM grams JOIN freq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q85_mix_upsample", mixUpsample(_, _), Some(
      """WITH w AS (
        |  SELECT doc_id, lang,
        |   (CASE WHEN lang = 'en' THEN 2.5 ELSE 1.25 END) AS wt,
        |   (position(substr(md5(CAST(doc_id AS STRING) || ':mix'), 1, 1) IN '0123456789abcdef') - 1) * 4096
        |   + (position(substr(md5(CAST(doc_id AS STRING) || ':mix'), 2, 1) IN '0123456789abcdef') - 1) * 256
        |   + (position(substr(md5(CAST(doc_id AS STRING) || ':mix'), 3, 1) IN '0123456789abcdef') - 1) * 16
        |   + (position(substr(md5(CAST(doc_id AS STRING) || ':mix'), 4, 1) IN '0123456789abcdef') - 1) AS v
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |   CAST(floor(wt) AS INT) +
        |    (CASE WHEN v < (wt - floor(wt)) * 65536 THEN 1 ELSE 0 END) AS n_copies
        |  FROM w)
        |SELECT doc_id, lang, CAST(i AS INT) AS copy_ix
        |FROM c, LATERAL unnest(range(0, n_copies)) AS t(i)
        |ORDER BY doc_id, copy_ix""".stripMargin)),
    QueryDef("q82_decontaminate", decontaminate(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 8) AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 6)) AS i FROM d)
        |  WHERE length(substr(t, CAST(i AS INT), 8)) = 8),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id >= 10) c
        | JOIN bench USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q81_unigram_logprob", unigramLogProb, Some(
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT count(*) AS total FROM toks),
        |scored AS (
        |  SELECT t.doc_id,
        |   CAST(round(log10(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 10000) AS BIGINT) AS lp
        |  FROM toks t JOIN freq USING (w), tot)
        |SELECT doc_id, count(*) AS n_tokens,
        | CAST(sum(lp) AS DOUBLE) / count(*) / 10000 AS mean_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q80_incremental_dedup", incrementalDedup(_, _), Some(
      """WITH f AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, hex(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
        |   octet_length(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS nb
        |  FROM documents WHERE length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(h, CAST(i*2+1 AS INT), 10) AS gram
        |  FROM (SELECT doc_id, h, unnest(range(0, nb - 4)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        |  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS isz
        |  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2),
        |neardup AS (
        |  SELECT a, b FROM pairs
        |   JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE isz * 10 >= (sa.sz + sb.sz - isz) * 7),
        |drop_near AS (SELECT DISTINCT b FROM neardup WHERE a < 250 AND b >= 250),
        |within AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM f WHERE doc_id >= 250) WHERE rn = 1)
        |SELECT doc_id, fp FROM within
        |WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)
        |  AND doc_id NOT IN (SELECT b FROM drop_near)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q79_pii_scrub", piiScrub, Some(
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |   (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
        |   (CASE WHEN doc_id % 5 = 0 THEN ' see https://example.com/d/' || doc_id ELSE '' END) ||
        |   (CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END) AS t
        |  FROM documents),
        |scrub AS (
        |  SELECT doc_id,
        |   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', 0)) AS INTEGER) AS n_emails,
        |   CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./_%+#?&=-]+', 0)) AS INTEGER) AS n_urls,
        |   CAST(len(regexp_extract_all(t, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', 0)) AS INTEGER) AS n_phones,
        |   CAST(length(t) AS INTEGER) AS len_raw,
        |   CAST(length(
        |     regexp_replace(
        |       regexp_replace(
        |         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |         'https?://[A-Za-z0-9./_%+#?&=-]+', '<URL>', 'g'),
        |       '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')) AS INTEGER) AS len_redacted
        |  FROM aug)
        |SELECT * FROM scrub
        |WHERE n_emails + n_urls + n_phones > 0
        |ORDER BY doc_id""".stripMargin)),
    // q78's oracle is generated: 16 digit extractions, 64 bit-vote
    // sums, 16 hex reassemblies — mechanical SQL mirroring the Spark
    // expressions exactly (same md5 on the same UTF-8 gram bytes).
    QueryDef("q78_simhash_portable", simhashPortable, Some {
      val digitExprs = (0 until 16)
        .map(i => s"(instr('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) AS d$i")
        .mkString(", ")
      val sumExprs = (0 until 64)
        .map(b => s"sum(CASE WHEN ((d${b / 4} >> ${3 - (b % 4)}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(", ")
      val hexExprs = (0 until 16).map { i =>
        val v = (0 until 4)
          .map(j => s"(CASE WHEN s${4 * i + j} > 0 THEN ${8 >> j} ELSE 0 END)")
          .mkString(" + ")
        s"substr('0123456789abcdef', 1 + $v, 1)"
      }.mkString(" || ")
      s"""WITH d AS (
         |  SELECT doc_id, lower(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS t
         |  FROM documents),
         |dn AS (SELECT doc_id, t FROM d WHERE length(t) >= 3),
         |g AS (
         |  SELECT doc_id, md5(substr(t, CAST(i AS INT), 3)) AS h
         |  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i FROM dn)),
         |dig AS (SELECT doc_id, $digitExprs FROM g),
         |sums AS (SELECT doc_id, $sumExprs FROM dig GROUP BY doc_id)
         |SELECT doc_id, $hexExprs AS simhash_hex
         |FROM sums ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q75_stratified_sample", stratifiedSample(_, _), Some(
      """WITH h AS (
        |  SELECT doc_id, lang, substr(md5(CAST(doc_id AS STRING) || ':sample'), 1, 4) AS hx
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM (SELECT doc_id, lang,
        |   (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) AS v
        | FROM h)
        |WHERE v < (CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END) * 65536
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    QueryDef("q76_pack_sequences", packSequences(_, _), Some(
      """WITH chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_ix,
        |   CAST(ceil(length(c)/4.0) AS INT) AS tokens
        |  FROM (
        |    SELECT doc_id, i, substr(text, CAST(i*150 + 1 AS INT), 200) AS c
        |    FROM documents,
        |     LATERAL unnest(range(0,
        |       greatest(CAST(ceil((length(text) - 200)/150.0) AS BIGINT), 0) + 1)) AS t(i))),
        |cum AS (
        |  SELECT doc_id, chunk_ix, tokens,
        |   sum(tokens) OVER (PARTITION BY doc_id ORDER BY chunk_ix) AS cum
        |  FROM chunks)
        |SELECT doc_id, CAST(floor((cum - tokens)/100.0) AS INT) AS example_ix,
        | count(*) AS n_chunks, CAST(sum(tokens) AS BIGINT) AS example_tokens
        |FROM cum GROUP BY doc_id, example_ix
        |ORDER BY doc_id, example_ix""".stripMargin)),
    QueryDef("q74_chunk_documents", chunkDocuments(_, _), Some(
      """SELECT doc_id, CAST(i AS INT) AS chunk_ix,
        | CAST(length(c) AS INTEGER) AS chunk_len, md5(c) AS chunk_md5
        |FROM (
        |  SELECT doc_id, i, substr(text, CAST(i*150 + 1 AS INT), 200) AS c
        |  FROM documents,
        |   LATERAL unnest(range(0,
        |     greatest(CAST(ceil((length(text) - 200)/150.0) AS BIGINT), 0) + 1)) AS t(i))
        |ORDER BY doc_id, chunk_ix""".stripMargin)),
    QueryDef("q73_heavy_hitters", heavyHitterTokens(_, _), Some(
      """WITH words AS (
        |  SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |tot AS (SELECT count(*) AS n FROM words)
        |SELECT w, count(*) AS cnt FROM words, tot
        |GROUP BY w, tot.n HAVING count(*) > tot.n/256.0
        |ORDER BY cnt DESC, w""".stripMargin)),
    QueryDef("q68_clean_corpus", cleanCorpus, Some(
      """WITH lang AS (
        |  SELECT doc_id FROM documents
        |  WHERE len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]', 0)) = 0
        |   AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) >=
        |       greatest(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')),
        |                len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')),
        |                len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')))),
        |qual AS (
        |  SELECT doc_id FROM documents
        |  WHERE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) >= 20),
        |deduped AS (
        |  SELECT doc_id FROM (
        |    SELECT f.doc_id,
        |     row_number() OVER (
        |       PARTITION BY md5(lower(regexp_replace(f.text, '[ \t\n\x0b\f\r]+', ' ', 'g')))
        |       ORDER BY f.doc_id) AS rn
        |    FROM documents f JOIN lang USING (doc_id) JOIN qual USING (doc_id))
        |  WHERE rn = 1),
        |d AS (
        |  SELECT doc_id, hex(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
        |   octet_length(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS nb
        |  FROM documents WHERE length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(h, CAST(i*2+1 AS INT), 10) AS gram
        |  FROM (SELECT doc_id, h, unnest(range(0, nb - 4)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        |  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS isz
        |  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2),
        |neardup AS (
        |  SELECT a, b FROM pairs
        |   JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE isz * 10 >= (sa.sz + sb.sz - isz) * 7),
        |removed AS (SELECT DISTINCT n.b AS doc_id FROM neardup n JOIN deduped s ON s.doc_id = n.a)
        |SELECT doc.doc_id,
        | CAST(len(regexp_extract_all(doc.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]', 0)) AS INTEGER) AS bpe_tokens,
        | CASE WHEN v < round(0.8*65536) THEN 'train'
        |      WHEN v < round(0.9*65536) THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |     (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
        |     + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
        |     + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
        |     + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) AS v
        |  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS STRING) || ':graft'), 1, 4) AS hx
        |        FROM deduped
        |        WHERE doc_id NOT IN (SELECT doc_id FROM removed))) keep
        | JOIN documents doc ON doc.doc_id = keep.doc_id
        |ORDER BY doc.doc_id""".stripMargin)),
    QueryDef("q39_hash_split", hashSplit, Some(
      """SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (
        |  SELECT doc_id,
        |   CASE WHEN v < round(0.8*65536) THEN 'train'
        |        WHEN v < round(0.9*65536) THEN 'val'
        |        ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |     (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
        |     + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
        |     + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
        |     + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) AS v
        |   FROM (SELECT doc_id, substr(md5(CAST(doc_id AS STRING) || ':graft'), 1, 4) AS hx
        |         FROM documents)))
        |GROUP BY split ORDER BY split""".stripMargin)),
    QueryDef("q38_repetition", repetition, Some(
      """SELECT doc_id,
        | CAST(length(t) - 2 AS INTEGER) AS total_grams,
        | CAST(len(list_distinct(list_transform(range(1, length(t) - 1),
        |   i -> substr(t, CAST(i AS INTEGER), 3)))) AS INTEGER) AS distinct_grams,
        | round(1.0 - CAST(len(list_distinct(list_transform(range(1, length(t) - 1),
        |   i -> substr(t, CAST(i AS INTEGER), 3)))) AS DOUBLE) / (length(t) - 2), 6) AS repetition_ratio
        |FROM (SELECT doc_id, lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
        |      FROM documents)
        |WHERE length(t) >= 3
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q50_dedup_exact", dedupExact, Some(
      """SELECT doc_id, h FROM (
        |  SELECT doc_id, md5(text) AS h,
        |   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    QueryDef("q51_text_stats", textStats, Some(
      """SELECT doc_id,
        | CAST(length(text) AS INTEGER) AS n_chars,
        | CAST(len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS INTEGER) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]', 0)) AS INTEGER) AS n_alpha,
        | CAST(len(regexp_extract_all(text, '[0-9]', 0)) AS INTEGER) AS n_digit,
        | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0b\f\r]', 0)) AS INTEGER) AS n_punct,
        | round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)
        |   / len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')), 6) AS stopword_ratio,
        | round(CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')), 6) AS avg_token_span,
        | round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) * 0.5
        |  + CAST(len(regexp_extract_all(text, '[A-Za-z]', 0)) AS DOUBLE) / length(text) * 0.5, 6) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q52_lang_id", langId, Some(
      """SELECT doc_id, lang AS lang_label,
        | en_hits, de_hits, fr_hits, es_hits, cjk_hits,
        | CASE WHEN cjk_hits > 0 THEN 'zh'
        |      WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
        |      WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
        |      WHEN fr_hits >= es_hits THEN 'fr'
        |      ELSE 'es' END AS predicted
        |FROM (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS en_hits,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS INTEGER) AS de_hits,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS INTEGER) AS fr_hits,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) AS INTEGER) AS es_hits,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]', 0)) AS INTEGER) AS cjk_hits
        | FROM documents) ORDER BY doc_id""".stripMargin)),
    QueryDef("q53_token_count", tokenCount, Some(
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS INTEGER) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]', 0)) AS INTEGER) AS bpe_tokens,
        | round(CAST(length(text) AS DOUBLE) / 4.0, 2) AS approx_llm_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q54_fingerprint", fingerprint, Some(
      """SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q55_ngram_jaccard", ngramJaccard, Some(
      """WITH g AS (
        |  SELECT doc_id,
        |   list_distinct(list_transform(range(1, length(t) - 1), i -> substr(t, CAST(i AS INTEGER), 3))) AS grams
        |  FROM (SELECT doc_id, lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
        |        FROM documents)
        |  WHERE length(t) >= 3),
        |r AS (SELECT grams AS ref_grams FROM g WHERE doc_id = 0)
        |SELECT doc_id,
        | round(CAST(len(list_intersect(grams, ref_grams)) AS DOUBLE)
        |   / (len(grams) + len(ref_grams) - len(list_intersect(grams, ref_grams))), 6) AS jaccard
        |FROM g, r ORDER BY doc_id""".stripMargin)),
    // q58's byte-gram machinery restricted to pairs against doc 0;
    // sig_k is 16 by construction (size of a k=16 signature)
    QueryDef("q112_sql_gram_kernels", sqlGramKernels, Some(
      """WITH d AS (
        |  SELECT doc_id, hex(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
        |   octet_length(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS nb
        |  FROM documents WHERE length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(h, CAST(i*2+1 AS INT), 10) AS gram
        |  FROM (SELECT doc_id, h, unnest(range(0, nb - 4)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |ref AS (SELECT gram FROM grams WHERE doc_id = 0),
        |rs AS (SELECT count(*) AS rsz FROM ref),
        |inter AS (
        |  SELECT g.doc_id, count(*) AS isz
        |  FROM grams g JOIN ref r ON g.gram = r.gram GROUP BY 1)
        |SELECT s.doc_id AS doc_id, CAST(16 AS INT) AS sig_k,
        | CAST(coalesce(i.isz, 0) AS INT) AS intersect_size,
        | CAST(s.sz AS INT) AS n_grams,
        | CAST(coalesce(i.isz, 0) AS DOUBLE)
        |   / (s.sz + r.rsz - coalesce(i.isz, 0)) AS jaccard
        |FROM sizes s CROSS JOIN rs r LEFT JOIN inter i ON i.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin)))
}
