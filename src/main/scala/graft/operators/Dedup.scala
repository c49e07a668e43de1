package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * `replacingDedup` reproduces the reference's storage-level dedup
  * semantics: ClickHouse `ReplacingMergeTree(from_api)` keeps, per ORDER
  * BY key, the row with the max version column (reference:
  * app/service/log_importer.ts:120-127). ClickHouse applies this lazily
  * at merge time; our engine's contract is the *fully deduplicated*
  * relation (SURVEY §1.4), produced eagerly by this operator.
  *
  * Scale notes: both forms are a single hash-shuffle on the key columns.
  * The aggregate form (`max_by(struct(*), version)`) does map-side
  * partial aggregation, so it moves at most one row per key per input
  * partition across the network — strictly less shuffle I/O than the
  * window form, which must materialize every row of a key in one
  * partition. Prefer the aggregate form at scale; the window form is
  * kept because it preserves the input's exact row (no struct
  * re-assembly) and demonstrates the row_number pattern. Skewed keys are
  * handled by AQE skew-join/partition splitting (enabled in
  * GraftSession).
  */
object Dedup {

  /** Keep, for each key, the row with the highest version (ties broken by
    * `tieBreak` descending, so the result is deterministic even when the
    * version column has duplicates — ClickHouse keeps an arbitrary row in
    * that case, we pin one).
    */
  def replacingDedup(df: DataFrame, keys: Seq[String], version: Column,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((version.desc +: tieBreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregate form: one shuffled row per key (map-side combine). Returns
    * the full row of the max-version record per key.
    */
  def replacingDedupAgg(df: DataFrame, keys: Seq[String], version: Column): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val kept = df
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), version).as("__row"))
    payload.foldLeft(kept)((d, c) => d.withColumn(c, col(s"__row.$c"))).drop("__row")
  }

  /** Exact content dedup: group rows by the hash of `contentCol`, keep the
    * lowest `idCol` as canonical. One shuffle keyed by a 128-bit hash —
    * at 100 TB the shuffle carries only (hash, id) pairs, never the
    * content itself.
    */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.select(md5(col(contentCol)).as("h"), col(idCol))
      .groupBy("h")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dups"))

  /** The `k` Bloom-filter bit positions of a value: position j is the
    * first-8-hex-digit integer of md5(j ++ value), mod `m`. Fully
    * deterministic and engine-portable (the same md5/strpos arithmetic
    * replays in any SQL engine), unlike library Bloom filters whose
    * hash mixing is implementation-private.
    *
    * Intended use is the incremental-dedup pre-filter: the CORPUS side
    * reduces to its distinct set positions — at most `m` rows no
    * matter how many documents set them, so the "filter" is a
    * broadcastable relation whose size is a knob, not a function of
    * corpus size. A new batch probes it with a broadcast join and only
    * bloom-positive docs proceed to the exact (content-hash) verify —
    * at 100 TB that's the difference between joining every new doc
    * against the corpus and joining ~the true-dup fraction plus the
    * chosen false-positive rate. No false negatives by construction.
    */
  def bloomPositions(value: Column, k: Int, m: Int): Column =
    array((0 until k).map(j =>
      (conv(substring(md5(concat(lit(j.toString), value)), 1, 8), 16, 10)
        .cast("long") % m).cast("int")): _*)

  /** Near-dup GROUP resolution: the near-dup detectors (MinHash/SimHash/
    * Jaccard/embedding) emit verified PAIRS; this folds pairs into
    * connected components so each duplicate cluster keeps one canonical
    * document (the min id). Distributed min-label propagation: every
    * node repeatedly adopts the smallest component id among itself and
    * its neighbors — hash joins only, converging in O(component
    * diameter) rounds; a pointer-jumping step per round (each node also
    * adopts its component representative's current component — path
    * compression) cuts that to O(log diameter), so chain-shaped
    * overlap graphs (the ±window Jaccard detector produces exactly
    * those) converge in a handful of rounds too. Lineage is cut per
    * round with `localCheckpoint` — iterative self-joins otherwise
    * stack plans until planning dominates.
    *
    * Input: pairs (id_a, id_b). Output: (id, comp) — one row per
    * distinct node, comp = min id of its component.
    */
  /** Free the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame. `Dataset.unpersist` only drops CacheManager entries, so
    * without this every iteration of an iterative algorithm pins another
    * full copy of its state in executor storage for the job's lifetime.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the (often expensive) upstream pair-detector ONCE:
    // a plain union of `pairs` with its flip evaluates the pair plan
    // twice — exchange reuse does not fire across the flipped
    // projection, and on p02 the duplicated MinHash/Jaccard scan was
    // over half the operator's wall-clock
    val p = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    // the symmetrized edge set is checkpointed PRE-PARTITIONED on the
    // per-round join key: localCheckpoint preserves the cached plan's
    // outputPartitioning, so every round's edges⋈labels join reuses
    // this one shuffle instead of re-exchanging the edges each round
    // (measured: the lazy union-view variant re-shuffled edges in all
    // R rounds; this pays one setup shuffle for R reuses)
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    // seed comp = min(self, neighbors): round 0's neighbor-min fused
    // into the init as one aggregation over the checkpointed edges —
    // no join, and the loop starts one propagation step ahead
    var labels = edges.groupBy("src")
      .agg(min("dst").as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("comp"))
      .localCheckpoint()
    // the RDD backing the current `labels` when it came from the loop
    // (null for the initial localCheckpoint — different unpersist path)
    var labelsRdd: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] = null
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor-min then join-back: measured FASTER than fusing both
      // into one union+groupBy (the fused form pushes N+2E rows through
      // the wide aggregation and the hops' 2^h duplication amplifies
      // it — rounds doubled when tried). `prev` rides along so
      // convergence needs no extra join — just a compare on the
      // materialized rows.
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy("src").agg(min("comp").as("ncomp"))
        .withColumnRenamed("src", "id")
      val stepped = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jumping, FOUR times per round: follow my
      // representative's label, then the result's, and so on. Each
      // hop doubles the followed distance — an extra hash join per
      // round can buy a whole round: on sf0.1's chain-shaped p02
      // graph, 2 hops = 5 rounds / 3 hops = 4 rounds / 4 hops = 3
      // rounds (re-measured after the fused init + pre-partitioned
      // edges; before those, the 4th hop bought nothing) — best warm
      // 3.5s vs 3.7s at 3 hops. A 5th hop does NOT reach 2 rounds
      // (changed=3282 persists) and its 2^5 recompute pushes rounds
      // to ~1.4s — measured 5.1s total, a clear loss.
      // The self-join consumes `cur` twice, so the subtree
      // re-executes 2^hops times per round — measured CHEAPER than
      // deduplicating it at this state size: per-hop persist() lifted
      // rounds from ~0.7s to ~1.2s (columnar encode + extra stage
      // boundaries beat the recompute of a tiny cached base). 4 plain
      // hops is the measured optimum; revisit persist only if
      // per-round state stops fitting a cache partition.
      val updated = (1 to 4).foldLeft(stepped) { (cur, _) =>
        val parent = cur.select(col("id").as("comp"), col("comp").as("pcomp"))
        cur.join(parent, Seq("comp"), "left")
          .select(col("id"), col("prev"),
            least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"))
      }
      // materialize AND count label changes in ONE job: rows stream
      // through an accumulator on their way into the cache, replacing
      // the former localCheckpoint-then-count pair of jobs per round.
      // Stays in InternalRow (the representation localCheckpoint
      // caches) via the sql-package bridge — the external-Row
      // createDataFrame round-trip measured ~15% slower on p02.
      // (Accumulator overcount from a retried task can only add a
      // spurious extra round, never a wrong result.)
      val acc = spark.sparkContext.longAccumulator("cc_changed")
      val schema = updated.schema
      val dts = schema.fields.map(_.dataType)
      val rdd = updated.queryExecution.toRdd.mapPartitions { it =>
        it.map { r =>
          if (r.get(1, dts(1)) != r.get(2, dts(2))) acc.add(1) // prev != comp
          r.copy()
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      if (labelsRdd != null) labelsRdd.unpersist(false)
      else unpersistCheckpoint(labels)
      labels = org.apache.spark.sql.graft.ColumnBridge
        .internalCreateDataFrame(spark, rdd, schema)
      labelsRdd = rdd
      converged = acc.value == 0
      i += 1
    }
    unpersistCheckpoint(p)
    unpersistCheckpoint(edges)
    labels.select("id", "comp")
  }
}
