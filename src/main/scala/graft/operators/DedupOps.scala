package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.functions.{functions => gfn}

/** Near-duplicate detection at corpus scale: MinHash+LSH and SimHash.
  * Spark-native formulation (no driver state, no UDFs):
  *
  *   per-row native MinHash signature (graft.functions.MinHashSig — a
  *   codegen'd Catalyst expression, one rolling-hash pass per document)
  *   → band digests → candidate pairs generated inside each LSH bucket.
  *
  * Signature generation involves NO shuffle and runs exactly ONCE per
  * document (the bucket-grouping form below — unlike a self-join on
  * band digests, whose two sides would each recompute the signatures).
  * The band bucket is the scale move: instead of all-pairs O(n²)
  * similarity, only documents sharing a band digest are compared; on a
  * cluster that is one shuffle keyed by (band, digest), and AQE handles
  * hot buckets. q56/q57 use engine-specific hashes → the driver records
  * rows-only checks, with quality (LSH recall, SimHash hamming) pinned
  * by ScalaTest against exact brute-force Jaccard. q58's OUTPUT is
  * hash-free (exact gram Jaccard) and is checked against a DuckDB
  * brute-force all-pairs oracle.
  */
object DedupOps extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  // explicit whitespace class (= Java's \s): RE2-based engines define \s
  // without vertical tab, and the oracle must normalize identically
  private def norm(c: Column): Column =
    lower(regexp_replace(c, TextQueries.wsClass, " "))

  /** MinHash signatures as one array<long> column of k slot minima over
    * 5-byte shingles (native expression; see MinHashSig scaladoc).
    *
    * k=64 in 16 bands of 4 rows: the miss probability for a pair at
    * Jaccard j is (1-j⁴)¹⁶ ≈ 2e-9 at the fixture's near-dup band
    * (j ≥ 0.92) and ~1.2% even for a pair sitting exactly on the 0.7
    * verification threshold — vs 4e-5 / 11% for the previous 8×4
    * scheme. The oracle for the verified-pair queries compares against
    * brute-force all-pairs truth, so candidate recall IS the gate's
    * stability margin; widening the signature buys four orders of
    * magnitude of it for one extra rolling-hash lane per byte. */
  def minhashSignatures(s: SparkSession, dir: String, k: Int = 64): DataFrame =
    Ops.spread(t(s, dir, "documents")) // rolling-hash kernel ≫ row copy — see Ops.spread
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), gfn.minhash_sig(norm(col("text")), k, 5).as("sig"))

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `k/bands` slots; docs sharing any band digest become a candidate.
    * Returns (a, b) doc_id pairs, a < b, deduplicated.
    *
    * Shape: melt to (doc_id, band, digest), group into buckets, emit
    * each bucket's pairs with a nested array transform — signatures are
    * computed once and only bucket member-id lists (not signatures) go
    * through the shuffle. Oversized buckets are capped + star-linked
    * (the hot-bucket guard — see pairsFromSig), so a skewed digest key
    * cannot produce a quadratic single-task pair explosion.
    */
  def minhashPairs(s: SparkSession, dir: String, k: Int = 64, bands: Int = 16): DataFrame =
    minhashPairsRaw(s, dir, k, bands).orderBy("a", "b")

  /** minhashPairs without the presentation sort: internal consumers
    * (verification, clustering) re-shuffle the pairs immediately, so
    * the declared query's global orderBy — a range-partitioning sample
    * job plus a sort — would be pure waste on their path. */
  private[operators] def minhashPairsRaw(s: SparkSession, dir: String,
      k: Int = 64, bands: Int = 16): DataFrame =
    pairsFromSig(minhashSignatures(s, dir, k), k, bands)

  /** Hot-bucket guard bound: buckets larger than this emit capped
    * output (see pairsFromSig). Runtime conf so a deployment can tune
    * it per corpus without a rebuild. */
  val MaxBucketConf = "spark.graft.lsh.maxBucket"
  val MaxBucketDefault = 1024

  /** The band→bucket→pair expansion from an existing signature frame
    * (doc_id, sig) — callers that also need the signatures for other
    * purposes materialize them once and share.
    *
    * HOT-BUCKET GUARD: pair fan-out is quadratic in bucket size by
    * nature of LSH, and a template-heavy real corpus (thousands of
    * near-identical boilerplate docs sharing one band digest) would
    * otherwise turn one bucket into a single-task O(b²) pair bomb —
    * the classic LSH failure at 100 TB. Buckets larger than
    * `spark.graft.lsh.maxBucket` (default 1024) are therefore capped:
    * all-pairs are emitted only among the first `cap` members (by
    * doc_id — deterministic), and every member past the cap is
    * STAR-LINKED to the bucket's first member instead. That bounds a
    * bucket's output at cap·(cap-1)/2 + (b - cap) — linear in b past
    * the cap — while keeping every member connected to the bucket, so
    * downstream connected-components clustering (q83/q87) still unifies
    * the whole near-dup family and dedup keeps exactly one
    * representative. The price is pair-level (not cluster-level)
    * recall inside oversized buckets: a (x, y) pair with BOTH members
    * past the cap is emitted only if some other band co-buckets it —
    * for the near-identical docs that create oversized buckets the
    * star pairs verify at jaccard ≈ 1, which is what dedup needs. At
    * the correctness gate's scales the largest observed bucket is 21
    * members (sf0.01; 135 at sf0.1), so the default cap changes nothing
    * there — it is purely the scale valve. Oversized-bucket counts are
    * surfaced as
    * `observe` metrics (name `graft_lsh_buckets`), visible to any
    * QueryExecutionListener at zero plan cost. */
  private[operators] def pairsFromSig(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val digests = (0 until bands).map(b =>
      xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)))
    pairsFromDigests(sig.select(col("doc_id"),
      posexplode(array(digests: _*)).as(Seq("band", "digest"))))
  }

  /** Bucket→pair expansion from a melted (doc_id, band, digest) frame —
    * the guard and pair generation shared by the native (q58/q83) and
    * portable (q56) LSH variants, and the IVF-cell families (q59/q66/
    * q87). See pairsFromSig for the hot-bucket guard contract.
    *
    * Form: fully RELATIONAL — rank members within each bucket
    * (row_number by doc_id, one (band, digest) shuffle), then emit
    * head-pairs as an equi-self-join on the bucket key with an
    * `rk < rk` residual and star links as a join against each bucket's
    * first member. An earlier form collected each bucket into an array
    * and expanded pairs with nested higher-order transforms; Catalyst
    * evaluates lambda-bearing expressions as CodegenFallback
    * (interpreted, per element), which made the EXPANSION the dominant
    * cost of the whole near-dup family — 30 s for 11M pairs at sf1 vs
    * ~3 s for this join form, which stays inside whole-stage codegen
    * end to end. The ranked frame feeds three branches off one shuffle
    * (ReuseExchange collapses them), and per-bucket join groups are
    * bounded by the cap, so the SMJ buffer never exceeds `cap` rows. */
  private[operators] def pairsFromDigests(melted: DataFrame): DataFrame =
    pairsFromDigestsDup(melted).distinct()

  /** pairsFromDigests WITHOUT the final distinct: a pair co-bucketed
    * by several bands/cells appears once per co-bucketing. Callers that
    * filter pairs further (the i8-bound prune) dedupe AFTER their
    * filter, so the distinct shuffle carries only survivors. */
  private[operators] def pairsFromDigestsDup(melted: DataFrame): DataFrame = {
    val cap = melted.sparkSession.conf
      .getOption(MaxBucketConf).map(_.toInt).getOrElse(MaxBucketDefault)
    require(cap >= 2, s"$MaxBucketConf must be >= 2, got $cap")
    val bucket = Window.partitionBy(col("band"), col("digest"))
    val ranked = melted
      .select(col("band"), col("digest"), col("doc_id"))
      .withColumn("rk", row_number().over(bucket.orderBy(col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(bucket))
      .filter(col("cnt") > 1)
      .observe("graft_lsh_buckets",
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("buckets"),
        max(col("cnt")).as("max_bucket"),
        sum(when(col("rk") === 1 && col("cnt") > cap, 1L).otherwise(0L))
          .as("oversized_buckets"),
        sum(when(col("rk") === 1 && col("cnt") > cap, col("cnt") - cap)
          .otherwise(0L)).as("overflow_members"))
    val head = ranked.filter(col("rk") <= cap)
      .select(col("band"), col("digest"), col("doc_id"), col("rk"))
    val headPairs = head.select(col("band"), col("digest"),
        col("doc_id").as("a"), col("rk").as("rka"))
      .join(head.select(col("band"), col("digest"),
        col("doc_id").as("b"), col("rk").as("rkb")), Seq("band", "digest"))
      .filter(col("rka") < col("rkb"))
      .select(col("a"), col("b"))
    val starLinks = ranked.filter(col("rk") > cap)
      .select(col("band"), col("digest"), col("doc_id").as("b"))
      .join(ranked.filter(col("rk") === 1)
        .select(col("band"), col("digest"), col("doc_id").as("a")),
        Seq("band", "digest"))
      .select(col("a"), col("b"))
    headPairs.union(starLinks)
  }

  /** Hash-PORTABLE MinHash LSH candidate pairs — the q56 declared
    * query. The native kernel (minhash_sig) uses an engine-specific
    * rolling hash for speed, so its pair set can only be rows-only
    * checked by the driver; this variant derives every slot hash from
    * md5 (standardized), so ANY engine reproduces the identical
    * signatures, band digests, buckets, and therefore the identical
    * candidate-pair set — the DuckDB oracle recomputes the whole
    * pipeline and the driver gets a full rows+schema+hash row for the
    * LSH path (same portability move as q78's SimHash). The native
    * kernel remains the 100 TB performance path and keeps full oracle
    * coverage downstream, where exact gram-Jaccard verification makes
    * its outputs hash-free (q58/q83); its candidate recall is pinned
    * in DedupSimilaritySpec.
    *
    * Shape: char 5-grams of normalized text (portable across engines —
    * both substring by CODE POINT) → ONE md5 per gram, split into two
    * 32-bit halves (a, b), slot i's hash = (a + i·b) mod 2³² — the
    * Kirsch-Mitzenmacher double-hashing construction, so k slots cost
    * one digest instead of k (16 md5s per gram benched 13.6 s at
    * sf0.1; this form is ~1 digest + 16 integer ops). All arithmetic
    * stays below 2³⁷ in signed 64-bit — no overflow in either engine.
    * k=16 slot minima → 4 bands × 4 rows, band digest = the
    * ':'-joined slot values (separator because decimal widths vary) →
    * the shared bucket→pair expansion with the hot-bucket guard. One
    * gram-explode + one groupBy(doc_id) + one (band, digest) shuffle:
    * same scale shape as the native path. */
  def minhashPortablePairs(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val docs = Ops.spread(t(s, dir, "documents")) // per-gram md5 ≫ row copy
      .select(col("doc_id"), norm(col("text")).as("t"))
      .filter(length(col("t")) >= 5)
    // array_distinct before the explode: the slot MIN is set-based, so
    // hashing a repeated gram again is pure waste (~proportional to the
    // corpus's repetition rate)
    val grams = docs.select(col("doc_id"), explode(array_distinct(
      transform(sequence(lit(1), length(col("t")) - 4),
        i => col("t").substr(i, lit(5))))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("ha"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("hb"))
    val slotMins = (0 until k).map(i =>
      min((col("ha") + lit(i.toLong) * col("hb")) % lit(4294967296L)).as(s"s$i"))
    val sig = grams.groupBy(col("doc_id")).agg(slotMins.head, slotMins.tail: _*)
    val bandDigests = (0 until 4).map(b =>
      concat_ws(":", (0 until 4).map(r => col(s"s${4 * b + r}")): _*))
    pairsFromDigests(sig.select(col("doc_id"),
      posexplode(array(bandDigests: _*)).as(Seq("band", "digest"))))
      .orderBy("a", "b")
  }

  /** q187: corpus-level source-overlap matrix via MERGEABLE MinHash
    * sketches — the sketch-algebra primitive a 100 TB mixing pipeline
    * needs. Reference capability context: the reference unions daily
    * transaction batches and compares sources only by exact row
    * equality (src/data_processor.py:340-358 loads each source
    * separately); estimating SET overlap between whole sources is the
    * scale generalization.
    *
    * The slot minimum is associative and commutative, so a per-SOURCE
    * signature (slot-wise min over the union of every member doc's
    * gram set) falls out of one `groupBy(source)` — Spark's partial
    * aggregation IS the sketch merge: each task reduces its partition
    * to n_sources×k longs, and 100 TB of text leaves the executors as
    * a few KB per task. No per-doc signatures are materialized. The
    * pairwise stage then compares sketches, not corpora:
    * est_jaccard(A,B) = |matching slots|/k, the standard single-hash
    * MinHash estimator. n_sources is bounded (a mixture has tens of
    * sources, not millions), so the pair join broadcasts.
    *
    * Hash device identical to q56 (one md5 per distinct char 5-gram,
    * Kirsch-Mitzenmacher (a + i·b) mod 2³² slots) so DuckDB replays
    * the sketches — and therefore the estimates — bit-exactly; the
    * division by k is a single IEEE op on small ints, exact in both
    * engines. */
  def sourceMinhashJaccard(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val docs = Ops.spread(t(s, dir, "documents")) // per-gram md5 ≫ row copy
      .select(col("source"), norm(col("text")).as("t"))
      .filter(length(col("t")) >= 5)
    val grams = docs.select(col("source"), explode(array_distinct(
      transform(sequence(lit(1), length(col("t")) - 4),
        i => col("t").substr(i, lit(5))))).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .select(col("source"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("ha"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("hb"))
    val slotMins = (0 until k).map(i =>
      min((col("ha") + lit(i.toLong) * col("hb")) % lit(4294967296L)).as(s"s$i"))
    val sig = grams.groupBy(col("source")).agg(slotMins.head, slotMins.tail: _*)
    val left = sig.select(col("source").as("source_a") +:
      (0 until k).map(i => col(s"s$i").as(s"a$i")): _*)
    val right = sig.select(col("source").as("source_b") +:
      (0 until k).map(i => col(s"s$i").as(s"b$i")): _*)
    val nMatch = (0 until k).map(i =>
      (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
    left.join(broadcast(right), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        nMatch.cast("int").as("n_match"),
        (nMatch.cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** MinHash summary: small stable output for the rows-only check. */
  def minhashStats(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(s, dir)
    sig.select(col("doc_id"), element_at(col("sig"), 1).as("h0"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h0")).as("distinct_h0"),
        min(col("h0")).as("min_h0"),
        max(col("h0")).as("max_h0"))
  }

  /** 64-bit SimHash per document (native one-pass expression).
    * NO Ops.spread (r12 A/B): the one-pass simhash kernel is light
    * enough that round-robin-copying the text costs more than it
    * parallelizes — measured 0.11 s → 0.37 s with a spread; rejected
    * (unlike minhash_sig's 64-lane pass, which keeps its spread). */
  def simhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), gfn.simhash64(norm(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** Near-dup pairs among MinHash candidates, verified with the TRUE
    * byte-5-gram Jaccard — the standard candidate→verify dedup pipeline
    * (generation cheap and approximate, verification exact and only
    * over candidates). Verification uses the native GramSet /
    * SortedIntersectSize expressions: each document's gram set is a
    * sorted array of verbatim-packed longs (exact, collision-free) and
    * each pair costs one linear merge scan. Gram sets are built ONLY
    * for documents that appear in some candidate pair (semi-join
    * against the materialized pair set), so the frames entering the
    * verification joins scale with the candidate count, not the corpus
    * — AQE broadcasts them when they are small and falls back to a
    * shuffled join keyed on doc_id when they are not. (An earlier
    * revision broadcast the FULL corpus's gram sets unconditionally,
    * which at the 100 TB design point would OOM the driver.)
    *
    * The threshold is a rational num/den and the filter is integer
    * arithmetic (den·|∩| ≥ num·|∪|), so the emitted pair set is exactly
    * reproducible by any engine — the DuckDB oracle recomputes it
    * brute-force over all pairs. The jaccard column is one int/int IEEE
    * division (no rounding), identical across engines. MinHash recall
    * at the corpus's near-dup band (gram-Jaccard ≥ 0.92 here) makes a
    * candidate miss ~1e-9-probable per pair and the pipeline is fully
    * deterministic, so oracle equality is a stable property, verified
    * per-run by the driver at sf0.01 and by ScalaTest at sf0.001.
    */
  def neardupVerified(s: SparkSession, dir: String,
      thresholdNum: Int = 7, thresholdDen: Int = 10): DataFrame =
    neardupVerifiedRaw(s, dir, thresholdNum, thresholdDen).orderBy("a", "b")

  /** neardupVerified without the presentation sort (see
    * minhashPairsRaw — same reasoning for downstream consumers). */
  private[operators] def neardupVerifiedRaw(s: SparkSession, dir: String,
      thresholdNum: Int = 7, thresholdDen: Int = 10): DataFrame = {
    val k = 64
    // signatures materialized ONCE and shared by band-bucketing and the
    // estimate prefilter below
    val sig = graft.util.Checkpoints.truncate(minhashSignatures(s, dir, k))
    val rawPairs = pairsFromSig(sig, k, bands = 16)
    // Signature-estimate prefilter: on a template-heavy corpus the
    // band buckets admit a quadratic mass of moderate-jaccard pairs
    // (168k candidates for 256 verified at 5k docs here), and each
    // exact verification drags two multi-KB gram arrays through two
    // shuffles. The 64-slot signatures are ~512 B, so estimating
    // jaccard as the matching-slot fraction and discarding pairs more
    // than 0.2 below the threshold removes almost all of that mass for
    // two cheap joins. For a pair AT the threshold the estimate is
    // Binomial(64, j)/64, so the added miss probability is
    // P(Binom(64, 0.7) < 32) ≈ 2e-4 — an order below the banding miss
    // (~1.2%) — and at the corpus's actual near-dup band (j ≥ 0.92)
    // it is ~1e-30: the oracle-stability margin is unchanged.
    val minMatches = math.max(0,
      math.floor(k * (thresholdNum.toDouble / thresholdDen - 0.2)).toInt)
    val estMatches = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    // materialize the surviving pairs once: they are consumed twice
    // (candidate-id restriction + join probe)
    val pairs = rawPairs
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .filter(estMatches >= minMatches)
      .select(col("a"), col("b"))
      .transform(graft.util.Checkpoints.truncate)
    val candIds = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id")))
      .distinct()
    val docs = t(s, dir, "documents")
      .filter(length(col("text")) >= 5)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), gfn.gram_set(norm(col("text")), 5).as("g"))
    pairs
      .join(docs.select(col("doc_id").as("a"), col("g").as("ga")), "a")
      .join(docs.select(col("doc_id").as("b"), col("g").as("gb")), "b")
      .withColumn("intersect_size", gfn.sorted_intersect_size(col("ga"), col("gb")))
      .withColumn("union_size",
        size(col("ga")) + size(col("gb")) - col("intersect_size"))
      // union_size > 0 excludes the degenerate all-whitespace pair (both
      // gram sets empty): 0*den >= 0*num would pass and emit a NaN
      // jaccard the brute-force oracle never produces
      .filter(col("union_size") > 0 &&
        col("intersect_size") * thresholdDen >= col("union_size") * thresholdNum)
      .select(col("a"), col("b"), col("intersect_size"), col("union_size"),
        (col("intersect_size").cast("double") / col("union_size")).as("jaccard"))
  }

  /** Near-duplicate CLUSTERS: connected components of the verified
    * pair graph (Ops.connectedComponents — iterative min-label
    * propagation), so an entire family of mutual near-dups keeps
    * exactly one representative (pairwise removal can drop every
    * member or chain inconsistently). Emits (doc_id, cluster = min
    * doc_id of its component) for every document that appears in at
    * least one pair; the oracle recomputes components with a recursive
    * transitive-closure CTE. */
  def neardupClusters(s: SparkSession, dir: String, maxIters: Int = 20): DataFrame =
    Ops.connectedComponents(neardupVerifiedRaw(s, dir).select(col("a"), col("b")), maxIters)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id")

  /** q172: CONTAINMENT join — |A∩B| / min(|A|,|B|) ≥ 0.8 over word
    * 3-shingle sets (Broder w-shingling). Jaccard (q58) misses the
    * quote-inclusion failure mode: a short doc fully embedded in a
    * long one has jaccard ≈ |A|/|B| → 0 but containment 1.0 — exactly
    * the near-dup class a training corpus must catch
    * (boilerplate-wrapped reposts). MinHash LSH cannot generate these
    * candidates either (it estimates JACCARD, and banding at the low
    * jaccard a contained-short-doc pair has misses ~always), so the
    * candidate step is PREFIX FILTERING — the AllPairs/PPJoin device:
    * order all shingles globally by (document frequency asc, shingle),
    * and for a doc of set size z any pair meeting overlap
    * t = ⌈0.8·min⌉ MUST share a shingle among the doc's first
    * z - ⌈0.8·z⌉ + 1 rarest (pigeonhole, since t ≥ ⌈0.8·z_min⌉ and
    * the smaller side's prefix uses its own z = z_min). The guarantee
    * is LOSSLESS — the oracle is brute-force truth and would catch any
    * miss. Two exact refinements keep the fan-out down: (1) df=1
    * shingles can never produce a candidate AND sort ahead of every
    * shared shingle, so the rank window runs over the df ≥ 2 subset
    * with the equivalent cut k = n2 - t + 1; (2) the probe side uses
    * raw occurrences (a df=1 probe row finds no prefix partner), so
    * the df join is planned once. WORD shingles, not byte grams, are
    * the containment representation on purpose: verbatim-span overlap
    * is what containment measures, and a low-entropy/templated corpus
    * collapses the byte-gram universe (2k distinct 5-grams across 5k
    * fixture docs — every prefix dense, candidates ~quadratic) while
    * word shingles keep the Zipfian rare tail prefix filtering needs
    * (27k shingles, max df 25 on the same corpus; measured 6.3 s →
    * 3.1 s at sf0.1, of which ~1 s is the pipeline's fixed 6-stage
    * overhead — the sf0.001 floor). At 100 TB every stage is a keyed
    * shuffle: df
    * count, per-doc rank window, two hash joins — the canonical
    * distributed set-similarity join. */
  def containmentJoin(s: SparkSession, dir: String,
      thresholdNum: Int = 8, thresholdDen: Int = 10): DataFrame = {
    val d = Ops.spread(t(s, dir, "documents")) // shingle-set build ≫ row copy
      .withColumn("toks", split(trim(norm(col("text"))), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
        .as("g"))
      .transform(graft.util.Checkpoints.truncate)
    val shingles = d.select(col("doc_id"), explode(col("g")).as("sh"))
    val df2 = shingles.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val shared = shingles.join(df2, Seq("sh"))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val n2W = Window.partitionBy(col("doc_id"))
    // t = ceil(0.8 z) in exact integers; k = n2 - t + 1
    val t8 = ((col("z") * thresholdNum + thresholdDen - 1)
      .divide(thresholdDen)).cast("long")
    val pref = shared
      .withColumn("rn", row_number().over(rankW))
      .withColumn("n2", count(lit(1)).over(n2W))
      .join(d.select(col("doc_id"), size(col("g")).cast("long").as("z")), Seq("doc_id"))
      .filter(col("rn") <= col("n2") - t8 + lit(1L))
      .select(col("doc_id").as("pa"), col("sh"))
    val cand = pref
      .join(shingles.select(col("doc_id").as("pb"), col("sh")), Seq("sh"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("a"),
        greatest(col("pa"), col("pb")).as("b"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("a"), col("g").as("ga")), Seq("a"))
      .join(d.select(col("doc_id").as("b"), col("g").as("gb")), Seq("b"))
      .withColumn("intersect_size",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("min_size", least(size(col("ga")), size(col("gb"))).cast("long"))
      .filter(col("intersect_size") * thresholdDen >= col("min_size") * thresholdNum)
      .select(col("a"), col("b"), col("intersect_size"),
        col("min_size"),
        (col("intersect_size").cast("double") / col("min_size")).as("containment"))
      .orderBy("a", "b")
  }

  /** q56 is the portable-hash LSH pipeline, so DuckDB replays it
    * end-to-end (signatures → bands → buckets → pairs) and the row is
    * fully hash-checked. q57 stays rows-only BY DESIGN: its value IS
    * the native engine-specific SimHash kernel (the portable variant
    * is separately oracle-checked as q78) — same reasoning keeps
    * q61's native-LSH ANN rows-only, with recall pinned in ScalaTest.
    * q58's output is exact 5-gram Jaccard, recomputed brute-force by
    * DuckDB (feasible at the verify gate's sf0.01: 500 docs = 124,750
    * pairs). */
  val defs: Seq[QueryDef] = Seq(
    // q172: brute-force containment truth over the same word-3-shingle
    // sets — the prefix filter on the Spark side is candidate PRUNING
    // only (provably lossless), so the oracle needs no knowledge of it.
    // list_extract (1-based in BOTH engines once the DuckDialect shim
    // maps it to try_element_at) replaces bracket subscripts, which are
    // 1-based in DuckDB but 0-based AND bounds-throwing in Spark —
    // range(0, len-2) with elements i+1 .. i+3 mirrors Spark's
    // sequence(0, size-3) with subscripts i .. i+2 exactly.
    QueryDef("q172_containment_join", containmentJoin(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id,
        |   string_split(trim(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   list_extract(toks, CAST(i+1 AS INT)) || ' '
        |    || list_extract(toks, CAST(i+2 AS INT)) || ' '
        |    || list_extract(toks, CAST(i+3 AS INT)) AS g
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i
        |        FROM d WHERE len(toks) >= 3)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS isz
        |  FROM sh s1 JOIN sh s2 ON s1.g = s2.g AND s1.doc_id < s2.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, isz AS intersect_size,
        |       least(sa.sz, sb.sz) AS min_size,
        |       CAST(isz AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE isz * 10 >= least(sa.sz, sb.sz) * 8
        |ORDER BY a, b""".stripMargin)),
    QueryDef("q83_neardup_clusters", neardupClusters(_, _), Some(
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, hex(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
        |   octet_length(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS nb
        |  FROM documents WHERE length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(h, CAST(i*2+1 AS INT), 10) AS gram
        |  FROM (SELECT doc_id, h, unnest(range(0, nb - 4)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |prs AS (
        |  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS isz
        |  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT a, b FROM prs
        |   JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE isz * 10 >= (sa.sz + sb.sz - isz) * 7),
        |edges AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id)
        |SELECT id AS doc_id, min(r) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),
    QueryDef("q56_minhash_pairs", minhashPortablePairs(_, _), Some {
      // mechanical mirror of the Spark expressions: same md5 on the
      // same grams, same (a + i*b) mod 2^32 slot derivation
      val slotMins = (0 until 16).map(i =>
        s"min((ha + $i * hb) % 4294967296) AS s$i").mkString(",\n        |    ")
      val bandRows = (0 until 4).map { b =>
        val digest = (0 until 4).map(r => s"CAST(s${4 * b + r} AS STRING)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, $digest AS digest FROM sig"
      }.mkString("\n        |  UNION ALL ")
      s"""WITH d AS (
        |  SELECT doc_id, lower(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |   (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(268435456 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * CAST(16777216 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * CAST(1048576 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * CAST(65536 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * CAST(4096 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * CAST(256 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * CAST(16 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 8, 1)) - 1) * CAST(1 AS BIGINT) AS ha,
        |   (instr('0123456789abcdef', substr(h, 9, 1)) - 1) * CAST(268435456 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 10, 1)) - 1) * CAST(16777216 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 11, 1)) - 1) * CAST(1048576 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 12, 1)) - 1) * CAST(65536 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 13, 1)) - 1) * CAST(4096 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 14, 1)) - 1) * CAST(256 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 15, 1)) - 1) * CAST(16 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 16, 1)) - 1) * CAST(1 AS BIGINT) AS hb
        |  FROM (
        |   SELECT doc_id, md5(substr(t, CAST(i AS INTEGER), 5)) AS h
        |   FROM (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i
        |         FROM d WHERE length(t) >= 5))),
        |sig AS (
        |  SELECT doc_id,
        |    $slotMins
        |  FROM g GROUP BY doc_id),
        |m AS (
        |  $bandRows)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM m x JOIN m y ON x.band = y.band AND x.digest = y.digest
        |  AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin
    }),
    QueryDef("q187_source_minhash_jaccard", sourceMinhashJaccard(_, _), Some {
      // same hash device as q56, aggregated per SOURCE (min over the
      // union gram multiset == min over the set), then slot matching
      val slotMins = (0 until 16).map(i =>
        s"min((ha + $i * hb) % 4294967296) AS s$i").mkString(",\n        |    ")
      val matches = (0 until 16).map(i => s"CAST(x.s$i = y.s$i AS INT)")
        .mkString(" + ")
      s"""WITH d AS (
        |  SELECT source, lower(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS t
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |   (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(268435456 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * CAST(16777216 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * CAST(1048576 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * CAST(65536 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * CAST(4096 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * CAST(256 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * CAST(16 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 8, 1)) - 1) * CAST(1 AS BIGINT) AS ha,
        |   (instr('0123456789abcdef', substr(h, 9, 1)) - 1) * CAST(268435456 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 10, 1)) - 1) * CAST(16777216 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 11, 1)) - 1) * CAST(1048576 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 12, 1)) - 1) * CAST(65536 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 13, 1)) - 1) * CAST(4096 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 14, 1)) - 1) * CAST(256 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 15, 1)) - 1) * CAST(16 AS BIGINT)
        |     + (instr('0123456789abcdef', substr(h, 16, 1)) - 1) * CAST(1 AS BIGINT) AS hb
        |  FROM (
        |   SELECT source, md5(substr(t, CAST(i AS INTEGER), 5)) AS h
        |   FROM (SELECT source, t, unnest(range(1, length(t) - 3)) AS i
        |         FROM d WHERE length(t) >= 5))),
        |sig AS (
        |  SELECT source,
        |    $slotMins
        |  FROM g GROUP BY source),
        |p AS (
        |  SELECT x.source AS source_a, y.source AS source_b,
        |    $matches AS n_match
        |  FROM sig x JOIN sig y ON x.source < y.source)
        |SELECT source_a, source_b, n_match,
        |  CAST(n_match AS DOUBLE) / 16 AS est_jaccard
        |FROM p ORDER BY source_a, source_b""".stripMargin
    }),
    QueryDef("q57_simhash", simhash(_, _), None),
    QueryDef("q58_neardup_verified", neardupVerified(_, _), Some(
      // byte 5-grams, like the Spark kernel (gram_set slides over UTF-8
      // bytes): hex(encode(t)) turns the text into its byte string, and
      // a 10-hex-char window is exactly one 5-byte gram — char-based
      // substr would diverge on any multi-byte character
      """WITH d AS (
        |  SELECT doc_id, hex(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
        |   octet_length(encode(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS nb
        |  FROM documents WHERE length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(h, CAST(i*2+1 AS INT), 10) AS gram
        |  FROM (SELECT doc_id, h, unnest(range(0, nb - 4)) AS i FROM d)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS isz
        |  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(isz AS INT) AS intersect_size,
        |       CAST(sa.sz + sb.sz - isz AS INT) AS union_size,
        |       CAST(isz AS DOUBLE) / (sa.sz + sb.sz - isz) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE isz * 10 >= (sa.sz + sb.sz - isz) * 7
        |ORDER BY a, b""".stripMargin)))
}
