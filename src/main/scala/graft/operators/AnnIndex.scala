package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{functions => gfn}

/** Persisted ANN index lifecycle — the production similarity-search
  * shape q63/q67 stop short of: BUILD once (train the coarse
  * quantizer, assign every vector to its cell), PERSIST the index as
  * a cell-partitioned parquet layout plus a tiny centroid table, then
  * PROBE from the persisted artifact alone. A probe never re-trains:
  * it reads 16 centroid rows, picks the query's nprobe cells on the
  * driver (dimension-bounded), and scans ONLY those cells' partition
  * directories — at 100 TB the probe reads nprobe/nlist of the corpus
  * off disk (the same storage contract as q65's date partitioning,
  * applied to vector cells), while the build cost is amortized over
  * every query against the same corpus snapshot.
  *
  * Staleness contract: the index records the corpus row count it was
  * built from; a probe whose corpus no longer matches rebuilds before
  * answering (the cheap guard a snapshot-versioned store would replace
  * with a table version). AnnIndexSpec pins build-once (two probes =
  * one build), rebuild-on-stale, cell partition pruning in the probe
  * plan, and that the probe result is bit-identical to q67's inline
  * build — which is also why q204 reuses q67's DuckDB oracle verbatim:
  * persisting the index must change where bytes live, never the
  * answer.
  */
object AnnIndex extends graft.QueryModule {

  private val nlist = 16
  private val iters = 2
  private val nprobe = 4

  /** index root per (application, source dir) — graft.Staged's key
    * reasoning; the build itself is guarded by the meta file, not the
    * map, so staleness can force a rebuild within one app. */
  private val roots = new ConcurrentHashMap[String, String]()

  /** Visible to the specs: how many times the expensive build ran. */
  private[graft] val buildCount = new AtomicInteger()

  private def metaPath(root: String) = Paths.get(root, "meta.json")

  /** Spec hook: corrupt the recorded corpus count to simulate a stale
    * index without mutating the read-only corpus. */
  private[graft] def invalidate(s: SparkSession, dir: String): Unit =
    writeMeta(s, dir, -1L)

  /** Spec hook: overwrite the recorded corpus count with an arbitrary
    * value — lets AnnIndexSpec pin the decimal-prefix collision (index
    * recorded at 10n rows, corpus now n) without a mutable corpus. */
  private[graft] def writeMeta(s: SparkSession, dir: String, rows: Long): Unit = {
    val root = roots.get(s.sparkContext.applicationId + ":" + dir)
    if (root != null)
      Files.write(metaPath(root),
        s"""{\"rows\":$rows}""".getBytes(StandardCharsets.UTF_8))
  }

  /** Ensure a fresh index exists for `dir`; returns its root. */
  private def ensureIndex(s: SparkSession, dir: String): String = {
    val root = roots.computeIfAbsent(s.sparkContext.applicationId + ":" + dir,
      _ => graft.util.TempDirs.create("graft_ivf_index_").toString)
    val n = SimilarityOps.embCount(s, dir)
    // terminator-inclusive match: "rows":$n alone would treat a corpus
    // of 12 rows as fresh against a meta recorded at 120 (decimal-prefix
    // collision) — requiring the closing brace pins the full number
    def fresh = Files.exists(metaPath(root)) &&
      new String(Files.readAllBytes(metaPath(root)), StandardCharsets.UTF_8)
        .contains(s"""\"rows\":$n}""")
    // double-checked: the staleness probe outside the lock keeps warm
    // probes lock-free; re-checking INSIDE the lock stops two cold (or
    // concurrently-invalidated) probes from both building into the
    // same root — ConcurrencySpec pins exactly-one rebuild
    if (!fresh) synchronized {
      if (!fresh) {
        build(s, dir, root)
        Files.write(metaPath(root),
          s"""{\"rows\":$n}""".getBytes(StandardCharsets.UTF_8))
        buildCount.incrementAndGet()
      }
    }
    root
  }

  /** The build: q67's exact training + assignment dataflow, landed as
    * a persisted layout instead of an inline plan. Two artifacts:
    * `centroids` (nlist rows — the whole "model") and `index`,
    * partitioned by cell so probes prune at the directory level. */
  private def build(s: SparkSession, dir: String, root: String): Unit = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val m = graft.ml.KMeansLite.fit(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      nlist, iters)
    val cents = m.centroids.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("cid", "cv")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        gfn.cosine_sim(col("embedding"), col("cv")).as("sim"))
    // same argmax as annIvf: lexicographic (sim, cid) max — ties to
    // the higher cid, the convention the oracle replays
    val assigned = scored.groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), col("cid"))).getField("cid").as("cell"))
    emb.join(assigned, "vec_id")
      .select(col("cell"), col("vec_id"), col("label"), col("embedding"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/index")
  }

  /** q204: top-k cosine search served from the PERSISTED index. The
    * centroid scan is nlist rows (driver-side pick of the probe cells
    * is dimension-bounded by construction); the index scan carries a
    * literal cell IN-list, so only nprobe of nlist partition
    * directories are listed and read. */
  def probe(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val root = ensureIndex(s, dir)
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qCells = s.read.parquet(s"$root/centroids")
      .crossJoin(broadcast(q))
      .select(col("cid"), gfn.cosine_sim(col("cv"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("cid")).limit(nprobe)
      // int literals: partition-column type inference reads the cell
      // directory values back as INT, and a same-type IN-list is what
      // the scan prunes on (a cast on the partition column would not)
      .collect().map(_.getLong(0).toInt)
    s.read.parquet(s"$root/index")
      .filter(col("cell").isin(qCells.toIndexedSeq: _*) && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(gfn.cosine_sim(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Same oracle as q67: the persisted probe must answer exactly what
    * the inline trained-IVF build answers. */
  val defs: Seq[QueryDef] = Seq(
    // staged: the ANN index build the probe reads
    QueryDef("q204_ann_ivf_persisted", probe(_, _),
      Some(SimilarityOps.oracle("q67_ann_ivf_trained")), stage = true))
}
