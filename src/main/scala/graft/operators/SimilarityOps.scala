package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{functions => gfn}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Baseline: brute-force cosine top-k against a query vector — a single
  * broadcast of the query plus one codegen'd pass over the corpus
  * (`zip_with` + `aggregate`, double accumulation, no UDF).
  *
  * Scale path: random-hyperplane LSH — each vector gets a B-bit bucket
  * signature from the signs of dot products with B pseudo-random
  * hyperplanes (deterministically derived from the dimension index, no
  * stored model). Search probes only the query's bucket (plus Hamming-1
  * neighbors), turning an O(N·d) scan into an O(N/2^B)-ish bucket read;
  * on a cluster the bucket id is the shuffle/partition key.
  */
object SimilarityOps extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Corpus size per source dir, memoized: the adaptive-nlist sizing
    * needs it on every neardupIvfBlockedRaw call, and a parquet count
    * is metadata-cheap but still one Spark job per call without the
    * cache (the source tables are immutable for a JVM's lifetime —
    * same assumption as the staged-layout caches elsewhere). */
  private[operators] def embCount(s: SparkSession, dir: String): Long =
    graft.Staged.once(s, dir, "embeddings.count")(t(s, dir, "embeddings").count())

  /** Cosine via the native CosineSimF expression: one codegen'd pass
    * over the float arrays with double accumulation, fold order
    * identical to the DuckDB oracle's list_transform/list_sum. */
  def cosine(a: Column, b: Column): Column = gfn.cosine_sim(a, b)

  /** Lossless i8-sketch prune of an (a, b[, …]) candidate-pair frame:
    * drop every pair whose RIGOROUS cosine upper bound
    * (VectorKernels.i8CosBound — proof there) sits below
    * `threshold − 1e-6`. Changes the plan, never the result: every
    * pair the exact `round(cosine, 6) ≥ threshold` verify would keep
    * survives the bound, so declared outputs and DuckDB oracles are
    * untouched and the oracle does not model the prune.
    *
    * Why it pays: the verify joins carry the full float vectors to
    * every CANDIDATE; after the prune they carry them only to
    * survivors (measured ~4–20× fewer at thresholds 0.35/0.5 on this
    * corpus). The sketch side is 16+d bytes/vector — broadcast here
    * (≤ ~10 MB at every gate scale, candidates stream through two
    * broadcast-hash joins with zero extra shuffle). At true cluster
    * scale swap the hint for a shuffle join on vec_id; the payload
    * asymmetry (sketch ≪ vector) still carries the win. */
  private def pruneByI8Bound(emb: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val keep = cand.columns
    val sk = broadcast(emb.select(col("vec_id"), gfn.i8_sketch(col("embedding")).as("sk")))
    cand
      .join(sk.select(col("vec_id").as("a"), col("sk").as("ska")), Seq("a"))
      .join(sk.select(col("vec_id").as("b"), col("sk").as("skb")), Seq("b"))
      .filter(gfn.i8_cos_bound(col("ska"), col("skb")) >= lit(threshold - 1e-6))
      .select(keep.map(col).toIndexedSeq: _*)
  }

  /** Brute-force cosine top-k vs the vec_id=0 query vector. */
  def cosineTopK(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-label embedding stats: count, mean L2 norm, mean self-dot. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        sqrt(aggregate(transform(col("embedding").cast("array<double>"), v => v * v),
          lit(0.0), (acc, v) => acc + v)).as("l2"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("l2")), 4).as("avg_norm"),
        round(min(col("l2")), 4).as("min_norm"),
        round(max(col("l2")), 4).as("max_norm"))
      .orderBy("label")

  /** B-bit LSH bucket signature from hyperplane sign bits; `table`
    * seeds an independent hyperplane set. Native expression — the
    * hyperplane components are hash-derived from (plane, dim), so any
    * executor recomputes them with no stored model, which is what makes
    * the bucketing usable as a shuffle key at scale. */
  def lshBucket(embCol: Column, bits: Int, table: Int): Column =
    gfn.lsh_bucket(embCol, bits, table)

  /** ANN via multi-table LSH (the standard L-tables construction): a
    * vector is a candidate if it shares ANY table's bucket with the
    * query; candidates are then scored with the true cosine. More
    * tables ⇒ higher recall, each table's bits ⇒ lower per-table
    * candidate count. At cluster scale the melted (table, bucket) pair
    * is the shuffle key and each bucket's candidates co-locate; the
    * probe side is one broadcast. Recall vs the brute-force baseline
    * is pinned in ScalaTest. */
  def annLsh(s: SparkSession, dir: String, k: Int = 50, bits: Int = 6,
             tables: Int = 8): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("buckets", array((0 until tables).map(tb =>
        lshBucket(col("embedding"), bits, tb)): _*))
      .cache()
    val melted = emb
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val qMelted = melted.filter(col("vec_id") === 0)
      .select(col("tbl"), col("bucket"))
    val candidates = melted.filter(col("vec_id") =!= 0)
      .join(broadcast(qMelted), Seq("tbl", "bucket"), "left_semi")
      .select("vec_id").distinct()
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.join(candidates, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate report, blocked by label AND
    * bounded per doc: for each vector, its top-`k` most similar
    * SAME-LABEL neighbors at cosine ≥ `threshold`. Both the compute and
    * the declared output are linear in the corpus:
    *  - candidates come from the same deterministic IVF coarse
    *    quantizer as q66 (adaptive nlist, multi-probe), intersected
    *    with the label block — per-cell membership is pinned at
    *    ~125·probes vectors regardless of corpus size, so pair
    *    generation costs ~N·(125·probes²), not the N²/labels of a raw
    *    label-block self-join (ScaleGen grows blocks, not labels: the
    *    all-pairs form was this suite's one super-linear query, 16.7×
    *    on the sf0.1→1 decade);
    *  - the output is ≤ k rows per doc (top-k by exact rounded cosine,
    *    vec_id tie-break), not every pair above the threshold — at 32
    *    dims random-pair noise crosses a fixed threshold at a constant
    *    rate, so an unbounded pair list grows quadratically no matter
    *    how it is computed.
    * Precision is exact (every emitted pair is verified with the exact
    * cosine); recall vs the all-pairs truth is the multi-probe recall
    * pinned in ScalaTest. The (label, cell) bucket id is the shuffle
    * key, and the bucket→pair expansion runs through the shared
    * hot-bucket guard (DedupOps.pairsFromDigests). */
  def embeddingNeardup(s: SparkSession, dir: String, threshold: Double = 0.35,
      k: Int = 3, nlist: Int = 16, probes: Int = 3): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cells = ivfCellAssign(s, dir, nlist, probes)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    // bucket key = (label, cell): a string digest, unambiguous for any
    // label/cell range (no packed-long overflow concerns)
    val cand = DedupOps.pairsFromDigestsDup(cells.select(
      col("vec_id").as("doc_id"), lit(0).as("band"),
      concat_ws(":", col("label"), col("cell")).as("digest")))
    // per-doc top-k is directional: mirror the undirected candidates
    // (pruned first — the bound holds in either orientation, so
    // pruning before the mirror halves the bound evaluations; distinct
    // after the prune so its shuffle carries survivors only)
    val pruned = pruneByI8Bound(emb, cand, threshold).distinct()
    val directed = pruned.union(pruned.select(col("b").as("a"), col("a").as("b")))
    val scored = directed
      .join(emb.select(col("vec_id").as("a"), col("label"),
        col("embedding").as("va")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("vb")), Seq("b"))
      .select(col("label"), col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    Ops.topKPerGroup(scored, Seq(col("a")),
        Seq(col("cos_sim").desc, col("b")), k)
      .select(col("label"), col("a"), col("rank"), col("b"), col("cos_sim"))
      .orderBy("a", "rank")
  }

  /** Embedding near-dup with a SCALABLE blocking key: each vector is
    * indexed under its `probes` nearest sampled IVF centroids (the same
    * deterministic coarse quantizer as q63), and pairs are generated
    * only within shared cells. The cell key derives from the vectors
    * themselves (labels don't exist in a raw corpus — q59 layers its
    * label constraint ON TOP of this same quantizer), and both knobs
    * scale:
    * `nlist` grows with the corpus so each cell stays executor-sized
    * (pair generation costs ~N²·probes²/nlist instead of N²), and
    * `probes` buys recall — pairs straddling one cell boundary still
    * co-occur in a second-choice cell (multi-probe raises sf0.001
    * recall from 0.22 at probes=1 to 0.80 at probes=3). The cell id is
    * the shuffle key; candidates are deduped before the exact-cosine
    * verify, so precision is exact. Recall is pinned vs the all-pairs
    * truth in ScalaTest, and the whole query is DuckDB-oracle-checked —
    * the ranked cell assignment is plain SQL. */
  def neardupIvfBlocked(s: SparkSession, dir: String, threshold: Double = 0.35,
      nlist: Int = 16, probes: Int = 3): DataFrame =
    neardupIvfBlockedRaw(s, dir, threshold, nlist, probes).orderBy("a", "b")

  /** neardupIvfBlocked without the presentation sort — downstream
    * consumers (semantic dedup) re-shuffle the pairs immediately. */
  /** The q66/q59 multi-probe IVF cell assignment: (vec_id, cell) rows,
    * `probes` per vector. ADAPTIVE nlist — the knob the scaladoc
    * promises must actually move: with a fixed cell count, per-cell
    * membership is N·probes/nlist and pair mass N²·probes²/nlist, so a
    * 10× corpus costs 100× (measured: 1.5 s at 2k vectors → 192 s at
    * 20k with nlist=16). Growing nlist ∝ N pins membership at
    * ~125·probes per cell and pair mass to ~N·(125·probes²) — linear.
    * Every gate scale lands exactly on the floor (2000/125 = 16), so
    * declared results at sf ≤ 0.1 are bit-identical to the fixed-nlist
    * form and the DuckDB oracles' hardcoded 16 centroids stay in
    * parity. */
  private[operators] def ivfCellAssign(s: SparkSession, dir: String,
      nlist: Int, probes: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val effNlist = math.max(nlist, (embCount(s, dir) / 125L).toInt)
    val cents = emb.filter(col("vec_id").between(1, effNlist))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cv")).as("sim"))
    // per-vector top-`probes` cells; vec_id is a high-cardinality
    // partition key, so this window runs at full parallelism
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cid").desc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= probes)
      .select(col("cid").as("cell"), col("vec_id"))
  }

  private[operators] def neardupIvfBlockedRaw(s: SparkSession, dir: String,
      threshold: Double = 0.35, nlist: Int = 16, probes: Int = 3): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ranked = ivfCellAssign(s, dir, nlist, probes)
    // bucket-grouping pair expansion via the SHARED guarded expansion
    // (DedupOps.pairsFromDigests): the scoring+ranking dataflow runs
    // ONCE — a self-join of `ranked` would recompute the N×nlist
    // cosine pass on both sides — and an overfull cell (every vector
    // probing the same centroid on a degenerate corpus) is capped +
    // star-linked by the hot-bucket guard instead of exploding one
    // task quadratically.
    // prune BEFORE the pair distinct: the bound filter drops ~97% of
    // candidates (threshold 0.35 at sf1), so the distinct shuffle
    // carries survivors only — the full-candidate distinct was the
    // single largest stage of the family (11M-pair shuffle, ~12 s at
    // sf1 vs ~0.5 s post-prune)
    val cand = pruneByI8Bound(emb, DedupOps.pairsFromDigestsDup(ranked.select(
      col("vec_id").as("doc_id"), lit(0).as("band"), col("cell").as("digest"))),
      threshold).distinct()
    cand
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("va")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** ANN via IVF (inverted-file) coarse quantization: every vector is
    * assigned to its nearest of `nlist` centroids (one broadcast pass +
    * a lexicographic struct-argmax — no window), and a query probes
    * only its `nprobe` nearest cells. The coarse quantizer here is
    * data-sampled centroids (k-means|| seeding style); a production
    * build would run a few Lloyd iterations with the same DataFrame
    * shapes. At cluster scale the cell id becomes the partition key of
    * a cell-clustered copy of the corpus, so a probe reads nprobe/nlist
    * of the data. */
  def annIvf(s: SparkSession, dir: String, k: Int = 50, nlist: Int = 16,
             nprobe: Int = 4, trainIters: Int = 0): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val cents =
      if (trainIters > 0) {
        // trained coarse quantizer: a few Lloyd iterations (KMeansLite)
        val m = graft.ml.KMeansLite.fit(
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          nlist, trainIters)
        m.centroids.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
          .toDF("cid", "cv")
      } else
        emb.filter(col("vec_id").between(1, nlist))
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cv")).as("sim"))
    val assigned = scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), col("cid"))).getField("cid").as("cell"))
    val qCells = scored.filter(col("vec_id") === 0)
      .orderBy(col("sim").desc, col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.join(assigned, "vec_id")
      .join(broadcast(qCells), "cell")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-dimension symmetric int8 quantization report — the compression
    * pass a 100 TB embedding store runs before serving ANN from memory:
    * scale each dimension by 127/max|x| (one global per-dim aggregate),
    * quantize, and report the per-dim distribution of the quantized
    * values (sums, squares, saturation count). Two aggregation passes
    * over the posexploded (vec_id, dim, x) view, both with map-side
    * partial aggregation, so the shuffled volume is O(dims), not
    * O(rows·dims). All reported stats are exact integers after the
    * deterministic rounding, so the query is engine-exact. */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
    // an all-zero dimension has no defined scale: drop it rather than
    // divide by zero (NaN → ANSI cast error in Spark 4, and the oracle
    // would diverge); the DuckDB side applies the same HAVING guard
    val st = e.groupBy(col("dim")).agg(max(abs(col("x"))).as("maxabs"))
      .filter(col("maxabs") > 0)
    e.join(broadcast(st), "dim")
      .withColumn("q", round(col("x") / col("maxabs") * 127).cast("int"))
      .groupBy(col("dim"), col("maxabs"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sum_q2"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"))
      .select(col("dim"), round(col("maxabs"), 6).as("maxabs"), col("n"),
        col("sum_q"), col("sum_q2"), col("n_sat"))
      .orderBy("dim")
  }

  /** Semantic deduplication of the embedding corpus (SemDeDup-style):
    * IVF-cell-blocked near-dup pairs (q66's verified candidate
    * pipeline) → connected components (Ops.connectedComponents, the
    * same min-label propagation as text near-dup clusters) → keep ONE
    * representative per component (its min vec_id) and every vector
    * that has no near-duplicate. Component-based removal is the part
    * pairwise dedup gets wrong: dropping the higher id of each pair
    * independently can delete an entire mutual-duplicate family.
    * Returns the surviving corpus (vec_id, label). */
  def semdedupCorpus(s: SparkSession, dir: String, threshold: Double = 0.35,
      maxIters: Int = 20): DataFrame = {
    val pairs = neardupIvfBlockedRaw(s, dir, threshold).select(col("a"), col("b"))
    val nonRep = Ops.connectedComponents(pairs, maxIters)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("vec_id"))
    t(s, dir, "embeddings")
      .join(nonRep, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector (the first `nQueries` ids), the `topK` highest-cosine
    * corpus vectors with a DIFFERENT label — the near-misses a
    * retrieval model must learn to push away. Shape: the probe set is
    * tiny and broadcast, scoring is one codegen'd pass over the corpus,
    * and per-query top-k runs through the salted two-phase
    * Ops.topKPerGroup (a plain window over `nQueries` partitions would
    * serialize into nQueries tasks at corpus scale). Ranking is on the
    * ROUNDED cosine with vec_id tie-break, so the emitted order is
    * engine-exact. */
  def hardNegatives(s: SparkSession, dir: String, nQueries: Long = 10,
      topK: Int = 5): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("cos_sim"))
    Ops.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("vec_id")), topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"),
        col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** q60's brute-force top-k expressed as a plain SQL STRING through
    * the registered function surface (GraftExtensions) — the path an
    * analyst or a SQL-only tool takes. Same oracle as a DSL query
    * would get: the SQL registry is now itself a gated component, not
    * just unit-tested plumbing. */
  def sqlCosineTopK(s: SparkSession, dir: String): DataFrame = {
    // per-call unique view name, dropped as soon as the frame is built:
    // spark.sql() resolves the view at analysis time, so the returned
    // frame stays executable after the drop — and the session catalog
    // is left exactly as found (a fixed createOrReplaceTempView name
    // would clobber a user view of that name and leak ours, with two
    // concurrent dirs silently reading whichever registered last)
    val view = s"graft_embeddings_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    t(s, dir, "embeddings").createTempView(view)
    try s.sql(
      s"""WITH q AS (SELECT embedding AS qv FROM $view WHERE vec_id = 0)
         |SELECT vec_id, label, round(cosine_sim(embedding, qv), 6) AS cos_sim
         |FROM $view, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 50""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Exact double cosine of two embedding columns in PORTABLE SQL —
    * fold order identical to the CosineSimF kernel. The dot product
    * walks 1-based subscripts through list_extract (= try_element_at
    * via the DuckDialect shim) instead of DuckDB's list_zip positional
    * structs, which Spark cannot parse — same products, same
    * left-to-right double accumulation, DuckDB-verified bit-identical,
    * and the statement now replays through spark.sql as well. */
  private def cosSqlOf(x: String, y: String): String =
    s"""list_sum(list_transform(range(1, len($x) + 1), i -> CAST(list_extract($x, i) AS DOUBLE)*CAST(list_extract($y, i) AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform($x, v -> CAST(v AS DOUBLE)*v)))
       |      * sqrt(list_sum(list_transform($y, v -> CAST(v AS DOUBLE)*v))))""".stripMargin

  private val pairCosSql = cosSqlOf("ea.embedding", "eb.embedding")

  /** The q66 multi-probe IVF-cell candidate pipeline as CTEs
    * (c → scored → ranked → cand), shared by every oracle that builds
    * on the blocked near-dup pair set. */
  private val ivfCandSql =
    s"""c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |   ${cosSqlOf("e.embedding", "c.cv")} AS sim
      |  FROM embeddings e CROSS JOIN c),
      |ranked AS (
      |  SELECT vec_id, cid,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rk
      |  FROM scored),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      |  FROM ranked x JOIN ranked y ON x.cid = y.cid AND x.vec_id < y.vec_id
      |  WHERE x.rk <= 3 AND y.rk <= 3)""".stripMargin

  /** q61 uses engine-specific hashing → rows-only. q60/q62 accumulate in
    * double left-to-right, mirrored exactly by list_zip/list_transform
    * (DuckDB's builtin list_cosine_similarity accumulates in float32 and
    * does NOT match). */
  val defs: Seq[QueryDef] = Seq(
    // q94 shares q60's truth: the native cosine_sim fold order is the
    // same whether reached from the Column API or the SQL registry
    QueryDef("q94_sql_cosine_topk", sqlCosineTopK, Some(
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        | round(${cosSqlOf("embedding", "qv")}, 6) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 50""".stripMargin)),
    QueryDef("q90_hard_negatives", hardNegatives(_, _), Some(
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, e.label,
        |   round(${cosSqlOf("e.embedding", "q.qv")}, 6) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.label <> q.qlabel),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS INT) AS rank, vec_id, label, cos_sim
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin)),
    // (dimension, value) pairs via a single-generator lateral +
    // list_extract — portable to spark.sql, where DuckDB's two
    // set-returning functions in one SELECT (lockstep expansion) can't
    // be spelled
    QueryDef("q86_embedding_quantize", embeddingQuantize, Some(
      """WITH e AS (
        |  SELECT CAST(t.d - 1 AS INT) AS dim,
        |   CAST(list_extract(embedding, t.d) AS DOUBLE) AS x
        |  FROM embeddings,
        |   LATERAL unnest(range(1, len(embedding) + 1)) AS t(d)),
        |st AS (SELECT dim, max(abs(x)) AS maxabs FROM e GROUP BY dim
        |       HAVING max(abs(x)) > 0),
        |q AS (
        |  SELECT e.dim, st.maxabs, CAST(round(x / maxabs * 127) AS INT) AS q
        |  FROM e JOIN st USING (dim))
        |SELECT dim, round(maxabs, 6) AS maxabs, count(*) AS n,
        | CAST(sum(q) AS BIGINT) AS sum_q,
        | CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS sum_q2,
        | CAST(count(*) FILTER (WHERE abs(q) = 127) AS BIGINT) AS n_sat
        |FROM q GROUP BY dim, maxabs ORDER BY dim""".stripMargin)),
    // 0.5 rather than q66's 0.35: on these weakly-clustered synthetic
    // embeddings 0.35 chains most of the corpus into near-giant
    // components (92/5000 survivors at sf0.1 — removal, not dedup) and
    // label propagation pays the resulting diameter in shuffle rounds;
    // 0.5 keeps ~40% and converges in the near-clique regime the
    // operator is designed for
    // q87: q66's verified pair set, then components via a recursive
    // transitive-closure CTE, then drop every non-representative member
    QueryDef("q87_semdedup_corpus", (s, d) => semdedupCorpus(s, d, 0.5), Some(
      s"""WITH RECURSIVE $ivfCandSql,
        |nd AS (
        |  SELECT cand.a, cand.b
        |  FROM cand
        |   JOIN embeddings ea ON ea.vec_id = cand.a
        |   JOIN embeddings eb ON eb.vec_id = cand.b
        |  WHERE round($pairCosSql, 6) >= 0.5),
        |edges AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
        |lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM lab WHERE cluster <> id)
        |ORDER BY vec_id""".stripMargin)),
    // q63's sampled-centroid mode is fully deterministic and its cosine
    // fold is oracle-exact (proven by q59/q60), so even the ANN variant
    // gets a DuckDB oracle: same centroids, same struct-argmax cell
    // assignment, same nprobe cell probe.
    QueryDef("q63_ann_ivf", annIvf(_, _), Some(
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |   list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(list_extract(e.embedding, i) AS DOUBLE)*CAST(list_extract(c.cv, i) AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE)*v)))
        |      * sqrt(list_sum(list_transform(c.cv, v -> CAST(v AS DOUBLE)*v)))) AS sim
        |  FROM embeddings e CROSS JOIN c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        |    FROM scored) WHERE rn = 1),
        |qcells AS (
        |  SELECT cid AS cell FROM scored WHERE vec_id = 0 ORDER BY sim DESC, cid LIMIT 4),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS vec_id, e.label,
        | round(
        |   list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(list_extract(e.embedding, i) AS DOUBLE)*CAST(list_extract(qv, i) AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE)*v)))
        |      * sqrt(list_sum(list_transform(qv, v -> CAST(v AS DOUBLE)*v)))), 6) AS cos_sim
        |FROM embeddings e
        | JOIN assigned a ON e.vec_id = a.vec_id
        | JOIN qcells ON a.cell = qcells.cell, q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 50""".stripMargin)),
    // q59: the bounded near-dup report — same CTE prefix as q66 (the
    // 16-centroid coarse quantizer holds at every gate scale), with the
    // candidate join additionally constrained to the label block,
    // mirrored to directed pairs, and cut to top-3 per doc
    QueryDef("q59_embedding_neardup", embeddingNeardup(_, _), Some(
      s"""WITH $ivfCandSql,
        |memb AS (
        |  SELECT r.vec_id, r.cid AS cell, e.label
        |  FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
        |  WHERE r.rk <= 3),
        |lcand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM memb x JOIN memb y
        |   ON x.cell = y.cell AND x.label = y.label AND x.vec_id < y.vec_id),
        |dirp AS (SELECT a, b FROM lcand UNION ALL SELECT b AS a, a AS b FROM lcand),
        |sc AS (
        |  SELECT ea.label, d.a, d.b, round($pairCosSql, 6) AS cos_sim
        |  FROM dirp d
        |   JOIN embeddings ea ON ea.vec_id = d.a
        |   JOIN embeddings eb ON eb.vec_id = d.b
        |  WHERE round($pairCosSql, 6) >= 0.35),
        |rk AS (
        |  SELECT label, a, b, cos_sim,
        |   row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS rank
        |  FROM sc)
        |SELECT label, a, CAST(rank AS INT) AS rank, b, cos_sim
        |FROM rk WHERE rank <= 3 ORDER BY a, rank""".stripMargin)),
    QueryDef("q60_cosine_topk", cosineTopK(_, _), Some(
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        | round(
        |   list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(list_extract(embedding, i) AS DOUBLE)*CAST(list_extract(qv, i) AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE)*v)))
        |      * sqrt(list_sum(list_transform(qv, v -> CAST(v AS DOUBLE)*v)))), 6) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 50""".stripMargin)),
    QueryDef("q61_ann_lsh", annLsh(_, _), None),
    QueryDef("q62_embedding_stats", embeddingStats, Some(
      """SELECT label, count(*) AS n,
        | round(avg(l2), 4) AS avg_norm,
        | round(min(l2), 4) AS min_norm,
        | round(max(l2), 4) AS max_norm
        |FROM (SELECT label,
        |  sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE)*v))) AS l2
        | FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin)),
    QueryDef("q66_neardup_ivf_blocked", neardupIvfBlocked(_, _), Some(
      s"""WITH $ivfCandSql
        |SELECT cand.a, cand.b,
        | round($pairCosSql, 6) AS cos_sim
        |FROM cand
        | JOIN embeddings ea ON ea.vec_id = cand.a
        | JOIN embeddings eb ON eb.vec_id = cand.b
        |WHERE round($pairCosSql, 6) >= 0.35
        |ORDER BY a, b""".stripMargin)),
    // q67: the TRAINED coarse quantizer, oracle-checked end-to-end —
    // 2 Lloyd iterations unrolled as SQL. Possible because KMeansLite's
    // centroid update is an exact quantized-integer mean (bit-identical
    // across engines regardless of fold order); every other step (seed =
    // 16 lowest ids, argmax assignment, float32 centroid storage, probe)
    // is the same deterministic algebra both engines already agree on.
    QueryDef("q67_ann_ivf_trained", (s, d) => annIvf(s, d, trainIters = 2), Some {
      // portable spellings throughout (the statement replays through
      // spark.sql as well as DuckDB): cosine via cosSqlOf's subscript
      // walk; per-vector argmax via a deterministic row_number window
      // (max-sim, tie → max cid — the exact lexicographic order of the
      // original struct-literal max); the (dimension, value) expansion
      // via a single unnest-range lateral + list_extract instead of
      // DuckDB's two-generator lockstep SELECT; and the ordered FLOAT
      // centroid list via sort-of-[d,v]-pairs (d is distinct per cid,
      // so the lexicographic array sort IS the ORDER BY d).
      def argmax(src: String): String =
        s"""(SELECT vec_id, cid AS cell FROM (
           |    SELECT vec_id, cid,
           |     row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
           |    FROM $src) WHERE rn = 1)""".stripMargin
      val centsList =
        "list_transform(list_sort(list(list_value(CAST(d AS DOUBLE), v))), p -> CAST(list_extract(p, 2) AS FLOAT))"
      def iteration(i: Int): String = {
        val p = i - 1
        s"""scored$i AS (SELECT e.vec_id, cl.cid, ${cosSqlOf("e.embedding", "cl.cv")} AS sim
           |  FROM embeddings e CROSS JOIN cents${p}_list cl),
           |assigned$i AS ${argmax(s"scored$i")},
           |sums$i AS (
           |  SELECT a.cell AS cid, u.d, CAST(sum(CAST(round(CAST(list_extract(e.embedding, u.d) AS DOUBLE)*1000000.0) AS BIGINT)) AS DOUBLE)/count(*)/1000000.0 AS v
           |  FROM assigned$i a JOIN embeddings e ON e.vec_id = a.vec_id,
           |   LATERAL unnest(range(1, len(e.embedding) + 1)) AS u(d)
           |  GROUP BY a.cell, u.d),
           |c$i AS (SELECT p.cid, p.d, coalesce(s.v, p.v) AS v
           |  FROM c$p p LEFT JOIN sums$i s ON s.cid = p.cid AND s.d = p.d),
           |cents${i}_list AS (SELECT cid, $centsList AS cv FROM c$i GROUP BY cid)""".stripMargin
      }
      s"""WITH seed AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
         |c0 AS (SELECT s.vec_id AS cid, u.d, CAST(list_extract(s.embedding, u.d) AS DOUBLE) AS v
         |  FROM seed s, LATERAL unnest(range(1, len(s.embedding) + 1)) AS u(d)),
         |cents0_list AS (SELECT cid, $centsList AS cv FROM c0 GROUP BY cid),
         |${iteration(1)},
         |${iteration(2)},
         |fscored AS (SELECT e.vec_id, cl.cid, ${cosSqlOf("e.embedding", "cl.cv")} AS sim
         |  FROM embeddings e CROSS JOIN cents2_list cl),
         |fassigned AS ${argmax("fscored")},
         |qcells AS (SELECT cid AS cell FROM fscored WHERE vec_id = 0 ORDER BY sim DESC, cid LIMIT 4),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, e.label, round(${cosSqlOf("e.embedding", "qv")}, 6) AS cos_sim
         |FROM embeddings e JOIN fassigned a ON e.vec_id = a.vec_id JOIN qcells ON a.cell = qcells.cell, q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 50""".stripMargin
    }))
}
