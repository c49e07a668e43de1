package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Packing, Sampling, Similarity, Sketches, TextDedup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators as gate queries: deduplication
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
  * similarity search (brute-force + IVF-blocked ANN), text analysis,
  * and multimodal binary-column plumbing — over the `documents` /
  * `embeddings` test tables.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) =
    Tables.spread(Tables.load(s, dir, "embeddings"))

  /** The multimodal gates' synth driver: just the doc ids, REBALANCED
    * across the cores (Tables.spread — the testdata's single-row-group
    * scan otherwise leaves every PNG/WAV/MP4 synth+decode on ONE core;
    * measured m05 1.0→0.45 s, m11 0.7→0.33 s at sf0.1). The exchange
    * carries 8-byte ids — payloads are synthesized and decoded strictly
    * ABOVE it, so the m-family "binary never crosses a shuffle"
    * contract is untouched.
    */
  private def docIdsSpread(s: SparkSession, dir: String) =
    Tables.spread(docs(s, dir).select(col("doc_id")))

  /** The corpus with the same read-side rebalance, for the gates whose
    * map stage is the cost center (signature hashing, shingling,
    * per-pair DP verify on broadcast-join probe sides — all of which
    * otherwise run on the single row-group's one scan partition).
    * Opt-in per gate: gates that run several small jobs over the
    * corpus (scalar passes + checkpoint builds) measured slower
    * re-paying the exchange per job, so [[docs]] stays un-spread.
    */
  private def docsSpread(s: SparkSession, dir: String) =
    Tables.spread(docs(s, dir))

  /** Corpus-size ceiling for broadcasting the per-doc shingle-hash
    * array tables in the LSH verify join (~2.3 KB/doc ⇒ ≤ ~460 MB
    * per broadcast side at the cap — inside any reasonable executor
    * budget, and measured safe: the M=26 rehearsal broadcast 130k-doc
    * array tables at 300 MB/side for years of rounds). Chosen from
    * the MEASURED payload, not Catalyst's row estimate — the M=100
    * deep-rehearsal incident (below) is exactly an estimate-driven
    * regime flip.
    */
  private val VerifyBroadcastMaxDocs = 200000L

  /** Exact-Jaccard verify join for banded-LSH candidates, with an
    * EXPLICIT join-regime switch driven by the measured corpus size.
    *
    * Why not trust Catalyst: cand's size estimate flows through a
    * bucket self-join whose multiplied stats cross the auto-broadcast
    * threshold as the corpus grows. Measured at the M=100 deep
    * rehearsal (500k docs): the verify joins flipped to sort-merge and
    * SORTED 11.7 GB of per-pair shingle arrays (wall 6 s → 93 s for
    * 3.85× the docs). Per-stage attribution (SCALE.md, measured with a
    * harness last present at commit 3537548) showed
    * the candidate set itself is LINEAR in corpus size — ~235k
    * sub-threshold pairs per 5k-doc copy (the synthetic corpus's tiny
    * word vocabulary gives random doc pairs background Jaccard
    * 0.2–0.5, so ~2% of within-copy pairs band-collide; banding cannot
    * be made more selective without breaking the hard J ≥ 0.8 recall
    * gate) — so the blow-up was purely the join regime, not candidate
    * growth. Broadcasting cand (23.5M pairs) or the join-1 intermediate
    * (pairs with arrays attached) both measured as dead ends: the
    * former is a 400 MB broadcast that still left 11.7 GB crossing the
    * final SMJ, the latter OOMed the driver.
    *
    * The two shapes that ARE right, picked from a measured doc count:
    *  - small corpus (≤ [[VerifyBroadcastMaxDocs]]): broadcast the
    *    array tables — the classic small-dim broadcast; candidate ids
    *    stream map-side and NO exchange carries an array (the gate-
    *    scale plan PlanContractSpec pins).
    *  - large corpus: shuffled-HASH joins. Join 1 BUILDS the candidate
    *    pair map (ids only, |pairs|/P per task) and STREAMS the array
    *    table; join 2 builds the b-side arrays (once per doc, |arrays|/P
    *    per task — P sizes with the corpus) and streams the fat
    *    intermediate. Arrays cross the wire once per doc on the build
    *    side and once per pair on the streamed intermediate — the
    *    per-pair crossing is irreducible for exact verification (the
    *    verify CPU is per-pair × array anyway), but it STREAMS through
    *    the hash joins; the SMJ regime additionally sorted it, which
    *    was the measured wall (sort spill of the fat rows).
    *
    * Measured at M=100 (500k docs, 23.5M candidates, SCALE.md):
    * estimate-driven SMJ 93 s / 13.4 GB sorted; SHUFFLE_HASH with the
    * ARRAY side built 198 s / 39.4 GB (streaming pairs emits each
    * doc's array in random pair order — raw-entropy xxhash64 longs,
    * lz4 gets nothing); SHUFFLE_HASH with the PAIR side built
    * 47.6 s / 11.8 GB (streaming the array table emits each doc's
    * ~50 candidate rows consecutively, so lz4's window dedupes the
    * repeated array bytes ~3.4×). Build-side orientation is thus a
    * CORRECTNESS-OF-SCALE choice here, not a tie-breaker.
    *
    * A 2D-blocked cogroup (Vernica et al.-style, arrays replicated to
    * k² pair cells) was considered and rejected: its traffic 2k×|arrays|
    * with k ~ √(cells needed for parallelism) only beats per-pair
    * streaming when 2k < candidate degree — at 1000-executor
    * parallelism k ≈ degree and it loses, while giving up whole-stage
    * codegen for a hand-rolled mapPartitions.
    */
  // corpus-count memo for the regime pick: the count is a metadata-only
  // parquet job, but gates run min-of-N and d02/d13 share corpora — one
  // job per table dir, not one per invocation
  private val docCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def corpusDocs(s: SparkSession, dir: String): Long =
    docCountMemo.computeIfAbsent(dir, d => docs(s, d).count()).longValue()

  /** Evaluate each expensive input subtree exactly ONCE (optimization
    * r18): the LSH gates reference their signature/bucket/array tables
    * from BOTH sides of self-joins and verify joins, and Spark cannot
    * CSE an opaque-expression subtree — so the map-heavy signature
    * passes (MinHash = 64 hash evals per shingle, ShingleHashSorted =
    * hash+sort per doc) ran 2–4× per gate for identical output. Each
    * input is checkpointed eagerly (one evaluation), the gate's small
    * result is materialized eagerly, and the input checkpoints are
    * freed before returning — no storage leak (the LabelProp
    * discipline). Spark ≥3.4 propagates the origin plan's statistics
    * onto the checkpointed relation (SPARK-39748), so join-strategy
    * picks (the bucket self-join's broadcast at gate scale) are
    * unchanged — asserted by the plan files in plans/r18/. At 100 TB
    * this is "persist the signature/index tables at index-build time,
    * probe them" — the shape the d15/SCALE.md notes already name.
    */
  private def reusing(inputs: DataFrame*)(
      build: Seq[DataFrame] => DataFrame): DataFrame = {
    drainStaleCheckpoints()
    val cps = inputs.zipWithIndex.map { case (df, i) =>
      cpStage(df, s"input $i") }
    val out = build(cps)
    cps.foreach(deferFree)
    out
  }

  /** Deferred checkpoint cleanup (optimization r18, second cut): the
    * first form freed a gate's input checkpoints before returning,
    * which forced the gate RESULT to materialize eagerly — an extra
    * job barrier per gate that measurably cost more than it saved on
    * the small-result graph gates (g08 +0.5 s). Checkpoints now queue
    * here and are freed at the START of the next reuse-gate
    * invocation: at most one gate's inputs stay alive (bounded by the
    * largest input table, ~100 MB at sf0.1), and the returned frame
    * stays LAZY — no extra barrier. CONTRACT: a reuse-gate's returned
    * frame is consumed before the next reuse-gate runs. Every engine
    * surface does this (Bench counts immediately, Verify writes
    * immediately, the specs collect immediately); a violation fails
    * LOUDLY (missing RDD block), never with a wrong answer.
    */
  private val staleCheckpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private[queries] def deferFree(df: DataFrame): Unit =
    staleCheckpoints.add(df)
  private[queries] def drainStaleCheckpoints(): Unit = {
    var df = staleCheckpoints.poll()
    while (df != null) {
      graft.operators.Dedup.unpersistCheckpoint(df)
      df = staleCheckpoints.poll()
    }
  }

  /** When true, every eager stage materialized by [[reusing]] /
    * [[withPairsOnce]] records its formatted plan into [[stagePlans]]
    * — the artifact surface for ExplainPlans, PlanFingerprintSpec and
    * PlanContractSpec, which otherwise would see only the final
    * presentation plan of an eager gate (a Scan of the result RDD).
    * Off in Bench/Verify: recording costs a formatted explain per
    * stage.
    */
  @volatile private[graft] var recordStagePlans = false
  private[graft] val stagePlans =
    new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
  private[queries] def cpStage(df: DataFrame, label: String): DataFrame = {
    if (recordStagePlans) stagePlans.add((label,
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    df.localCheckpoint()
  }

  private[graft] def lshVerifyJoin(cand: DataFrame, shingleSets: DataFrame,
      nDocs: Long, maxBroadcastDocs: Long = VerifyBroadcastMaxDocs,
      valCols: Seq[String] = Seq("sh")): DataFrame = {
    val a = shingleSets.select(col("doc_id").as("id_a") +:
      valCols.map(c => col(c).as(s"${c}_a")): _*)
    val b = shingleSets.select(col("doc_id").as("id_b") +:
      valCols.map(c => col(c).as(s"${c}_b")): _*)
    if (nDocs <= maxBroadcastDocs)
      cand.join(broadcast(a), "id_a").join(broadcast(b), "id_b")
    else cand.hint("SHUFFLE_HASH").join(a, "id_a")
      .join(b.hint("SHUFFLE_HASH"), "id_b")
  }

  // ---- exact content dedup (hash-groupBy; shuffle carries hashes only) ----
  def exact_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(docs(s, dir), "text", "doc_id")
      .orderBy("keep_id")
      .select("keep_id", "dups", "h")

  // ---- MinHash + LSH near-dup detection, verified with exact Jaccard
  // — run as a RECALL GATE with a full DuckDB oracle. The output is
  // the exact shingle-Jaccard pair set at J >= 0.8, reached THROUGH
  // the banded-LSH candidate machinery: bands=16 × rows=4 puts the
  // S-curve's miss probability at (1-J⁴)¹⁶ ≤ 2.2e-4 for J = 0.8
  // (~4e-8 at 0.9), and the corpus's near-dup pairs are bimodal
  // (nothing between ~0.5 and ~0.8), so banding recall is 1 here and
  // the candidate∩exact set EQUALS the oracle's exhaustive exact pair
  // set — any banding miss, hashing drift, or verify bug breaks the
  // row match. (inter, un) are emitted as integers: they pin the
  // Jaccard value exactly with no cross-engine float formatting risk.
  // The signature path is deterministic (seed-42 XXH64), so this is a
  // hard equality gate, not a statistical one. ----
  def minhash_lsh_dedup(s: SparkSession, dir: String): DataFrame = {
    // read-side rebalance: the signature/shingle passes and the
    // broadcast-join probe sides below otherwise run on the single
    // row-group's one scan partition (optimization r19)
    val d = docsSpread(s, dir)
    // signatures via the native MinHashSig expression (one tight
    // primitive loop per row — ~25× the HOF pipeline); the
    // exact-Jaccard verify materializes distinct shingle sets only
    // for candidate docs. (Densified OPH — functions.OphSig — is NOT
    // used here although it is now correct on short docs: measured A/B
    // at sf0.1 it is ~20% slower end-to-end (10.3-11.8 s vs 8.4-9.1 s)
    // because the verify join, not signature hashing, dominates d02,
    // and the borrowed bin values add band collisions. It remains the
    // right signature when |shingles| >> nBins and signature cost
    // dominates, e.g. long documents at much larger corpus scale.)
    val sigs = d.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), 5, 64).as("sig"))
    // Verify against PRECOMPUTED sorted shingle-hash sets
    // (ShingleHashSorted, one hashing pass per doc) compared with a
    // primitive sorted-merge (SortedLongJaccard) — bit-equal to the
    // per-pair ShingleJaccard form (pinned by spec) but each doc is
    // shingle-hashed once instead of once per candidate pair it
    // appears in (~117× on this corpus), and the per-pair compare is
    // allocation- and hash-free. The join carries candidate docs'
    // hash arrays only (≤8 B per distinct shingle).
    val t0 = d.select(col("doc_id"),
      graft.functions.ShingleHashSorted(col("text"), 5).as("sh"))
    // `reusing`: the bucket table (and so MinHashSig) and the shingle
    // table each evaluate ONCE — the self-join/verify sides previously
    // re-ran both signature passes (see reusing's doc)
    reusing(
      TextDedup.lshBuckets(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
      t0) { case Seq(buckets, t) =>
      val cand = TextDedup.candidatePairs(buckets, "doc_id")
      // verify-join regime is picked explicitly from the measured corpus
      // size — see lshVerifyJoin for the M=100 rehearsal incident that
      // retired the estimate-trusted shape
      lshVerifyJoin(cand, t, corpusDocs(s, dir))
        .withColumn("inter",
          graft.functions.SortedLongIntersect(col("sh_a"), col("sh_b")))
        .withColumn("un", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("un") >= 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("un"))
    }.orderBy("id_a", "id_b")
  }

  // ---- d16: STOP-SHINGLE-filtered near-dup — the production counter
  // to boilerplate-inflated candidate degree. The M=100 deep rehearsal
  // measured WHY this operator must exist: a corpus with high
  // background similarity (here a tiny synthetic vocabulary; in
  // production, boilerplate headers/footers/licenses) gives random doc
  // pairs Jaccard 0.2–0.5, which banding structurally cannot separate
  // from the J ≥ 0.8 threshold — ~2% of ALL pairs become candidates
  // (~235k per 5k docs) and exact-verify cost is per-candidate.
  // Removing the K globally most-frequent shingles BEFORE signatures
  // deflates exactly the shared-boilerplate term of background
  // similarity while leaving genuinely duplicated content intact —
  // the candidate degree collapses (measured in SCALE.md) and the
  // pair semantics become "near-dup net of boilerplate", which is
  // what a training-data dedup actually wants.
  //
  // Same hard recall-gate structure as d02/d03/d13: output = the
  // EXHAUSTIVE exact-Jaccard pair set at J ≥ 0.8 over the FILTERED
  // shingle sets (the oracle recomputes DF, the stop set, and the
  // filtered ground truth from scratch in DuckDB), reached through
  // banded LSH on the filtered sets.
  //
  // Scale shape: the DF pass is one explode + hash-agg whose shuffle
  // carries (5-char shingle, count) — vocabulary-bounded, not
  // corpus-bounded — and runs once per corpus: the top-64 stop set is
  // a persisted index-build ARTIFACT ([[stopShinglesFor]]; ties
  // broken by shingle string, so both engines pick the same set);
  // filtering is a map-side HOF over a 64-element literal. At 100 TB
  // the exact DF pass becomes a frequent-items sketch (the t09/t17
  // machinery) — the gate pins the exact-form semantics the sketch
  // approximates. ----
  def stop_shingle_neardup(s: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(s, dir)
    val stopLit = lit(stopShinglesFor(s, dir))
    // the filtered shingle table feeds the signature branch AND both
    // verify sides — previously 4 evaluations of the shingle+filter
    // pass (and 2 of the signature pass); checkpoint it first, then
    // reuse the bucket table derived FROM the checkpoint (see reusing)
    val t = cpStage(d.select(col("doc_id"),
      filter(graft.functions.ShingleHashSorted(col("text"), 5),
        x => !array_contains(stopLit, x)).as("sh")), // filter keeps sort order
      "filtered shingles")
    // native sig-from-hashes expression: the HOF form here measured
    // 14 s at sf0.1 (signature stage dominated); this is MinHashSig's
    // permutation scheme over the filtered hash set in one tight loop
    val sigs = t.select(col("doc_id"),
      graft.functions.MinHashSigFromHashes(col("sh"), 64).as("sig"))
    val out = reusing(
      TextDedup.lshBuckets(sigs, "doc_id", "sig", bands = 16,
        rowsPerBand = 4)) { case Seq(buckets) =>
      val cand = TextDedup.candidatePairs(buckets, "doc_id")
      lshVerifyJoin(cand, t, corpusDocs(s, dir))
        .withColumn("inter",
          graft.functions.SortedLongIntersect(col("sh_a"), col("sh_b")))
        .withColumn("un", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("un") >= 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("un"))
    }
    deferFree(t)
    out.orderBy("id_a", "id_b")
  }

  /** Where the d16 stop-shingle set persists, keyed by the SF dir's
    * basename like [[s03CentroidsPath]].
    */
  def d16StopPath(dir: String): String =
    s"/tmp/graft_d16_stop/${new java.io.File(dir).getName}"

  private val d16Built =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** The top-64 stop-shingle hash set — an INDEX-BUILD artifact (the
    * s03-centroids contract): the DF pass that derives it is a corpus
    * scan, so it runs once per corpus, persists per SF, and every d16
    * invocation after the first probes the memoized/persisted set
    * (previously the slowest batch gate rebuilt it per run). The gate
    * oracle still recomputes DF + the stop set from scratch in DuckDB
    * — the build-path validation, the p02 pattern.
    *
    * DF pass: per-doc-distinct shingles (native DistinctShingles — the
    * HOF chain measured 2.2 s at sf0.1, pure lambda interpretation)
    * exploded into count(*) IS document frequency, and the partial agg
    * reduces to the (tiny) shingle vocabulary before the exchange; a
    * countDistinct(doc_id) spelling measured equal wall but shuffles
    * the corpus-proportional (shingle, doc) pair stream. xxhash64 over
    * the (already lowercased) shingle string is the SAME hash
    * ShingleHashSorted applies per window, so filtering by hash equals
    * filtering by string. Bounded: exactly topK longs collected.
    */
  private[queries] def stopShinglesFor(s: SparkSession, dir: String): Array[Long] =
    // compute, not computeIfAbsent: a memoized value whose persisted
    // parquet was deleted (Verify's up-front artifact sweep) must
    // rebuild so the ORACLE's read of the parquet sees this run's set
    d16Built.compute(dir, (_, prev) => {
      val p = d16StopPath(dir)
      if (prev != null && new java.io.File(p).exists()) prev
      else {
      val topK = 64
      docs(s, dir)
        .select(explode(
          graft.functions.DistinctShingles(col("text"), 5)).as("sg"))
        .groupBy("sg").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("sg")).limit(topK)
        .select(xxhash64(col("sg")).as("h"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      s.read.parquet(p).collect().map(_.getLong(0)).sorted
      }
    })

  // ---- d17: character-level EDIT-DISTANCE near-dup — the detector
  // family the token/shingle ones can't replace: Jaccard over word
  // sets is blind to edit LOCALITY (a doc with every 10th char
  // corrupted keeps high token overlap only if corruptions respect
  // token boundaries), while OCR noise, mojibake, and byte-level
  // mutations are Levenshtein-small and shingle-large. Corpus-wide
  // (no id window): blocking is by LENGTH BAND — |len(a)−len(b)| ≤ k
  // is a true invariant of edit distance ≤ k, so bucketing by
  // floor(len/k) and probing each doc against buckets b−1, b, b+1
  // is provably lossless (every qualifying pair shares or straddles
  // a band). Each doc explodes to 3 small (bucket, id, text) rows;
  // the join is an equi-join on the band key; dedup of orientations
  // is the id_b > id_a filter (exactly one exploded row survives per
  // pair — the a-side row whose probe band equals b's home band).
  // Verify is Spark's BANDED Levenshtein (3-arg form): O(k·n) per
  // candidate, not O(n²) — the threshold prunes the DP to a 2k+1
  // diagonal and returns −1 past it, so cost scales with the
  // threshold, not the text length product.
  //
  // At 100 TB length-banding alone is too coarse once lengths
  // concentrate (web docs cluster hard around template sizes) —
  // production composes the band key with a content key (the d02
  // LSH band machinery) so each blocking cell stays small; the
  // length invariant still bounds recall loss to exactly zero for
  // the length dimension. The oracle carries the SAME invariant:
  // DuckDB prefilters pairs by |Δlen| ≤ k (lossless) and exhaustively
  // Levenshteins the rest — the gate output must equal the full
  // corpus-wide ≤ k pair set. ----
  def edit_distance_neardup(s: SparkSession, dir: String): DataFrame =
    editVerify(editLenCandidates(docsSpread(s, dir), editK), editK)

  private[graft] val editK = 16

  /** Length-band candidate pairs: (id_a, id_b, text_a, text_b,
    * hist_a, hist_b) with |Δlen| ≤ k, each unordered pair exactly
    * once (id_b > id_a). The 28-bin CharHist rides the doc row from
    * the scan (one pass per DOC, map-side) so [[editVerify]]'s count
    * filter never recomputes it per candidate. Exposed separately so
    * the scale rehearsal can count candidates independently of the
    * verify stage.
    */
  private[graft] def editLenCandidates(d0: DataFrame, k: Int): DataFrame = {
    val d = d0.select(col("doc_id"), col("text"),
      graft.functions.CharHist(col("text")).as("hist"),
      length(col("text")).as("len"),
      (length(col("text")) / k).cast("long").as("bucket"))
    val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"),
        col("hist").as("hist_a"), col("len").as("len_a"), col("bucket"))
      .withColumn("jb", explode(array(col("bucket") - 1, col("bucket"),
        col("bucket") + 1)))
      .drop("bucket")
    val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"),
      col("hist").as("hist_b"), col("len").as("len_b"),
      col("bucket").as("jb"))
    a.join(b, Seq("jb"))
      .filter(col("id_b") > col("id_a") &&
        abs(col("len_b") - col("len_a")) <= k)
      .select("id_a", "id_b", "text_a", "text_b", "hist_a", "hist_b")
  }

  /** Count filter + banded DP. The histogram L1 bound (one edit op
    * moves the CharHist L1 by ≤ 2, so L1 > 2k ⇒ dist > k) is
    * LOSSLESS and prunes the candidate set ~34× at sf0.1 (812k → 20k
    * pairs paying the O(k·n) DP — measured; unrelated same-length
    * docs differ in letter mix far more than 2k counts).
    *
    * The guards live INSIDE one CASE WHEN, not as separate filters:
    * Catalyst pushes every filter into the band join's condition and
    * `reduceLeft(And)` happens to order the VERIFY conjuncts before
    * the cheap id/Δlen guards — measured, that ran the 370 µs-per-pair
    * DP (and the L1) on both orientations and self-matches of every
    * band collision. CaseWhen short-circuits and is opaque to
    * conjunct reordering, so the evaluation order is pinned: id guard
    * (kills the duplicate orientation and self-matches) → 28-int L1
    * → DP only on survivors. ArrayL1 is a codegen'd primitive loop,
    * so the compare costs ~300× less than the DP it skips.
    */
  private[graft] def editVerify(cand: DataFrame, k: Int): DataFrame =
    cand
      .withColumn("dist",
        when(col("id_b") > col("id_a") &&
            graft.functions.ArrayL1(col("hist_a"), col("hist_b")) <= 2L * k,
          levenshtein(col("text_a"), col("text_b"), k))
        .otherwise(lit(-1)))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy("id_a", "id_b")

  // ---- d18: the COMPOSED blocking d17's scale note promises — the
  // shape that survives length concentration. d17's length band is
  // lossless but its cells hold every doc of similar length: under
  // the rehearsal's length-preserving rotation salt, candidates grow
  // ∝ M² (SCALE.md, edit legs). Here the candidate key is the d02
  // MinHash band bucket (content), and the length invariant demotes
  // to a post-join filter — cells stay small because unrelated docs
  // collide only at band-hash chance, so candidates track TRUE pairs
  // (∝ M), not corpus² . The content key is lossy where the length
  // key was not, so this is a RECALL GATE in the d02 sense: dist ≤ 16
  // over ~300-char docs leaves 5-char shingle Jaccard ≥ 0.93 on every
  // true pair in this corpus (measured; each edit can corrupt at most
  // 5 shingles), and at J = 0.93, 16×4 banding misses with p ≤ 3.5e-10
  // under the deterministic seed-42 XXH64 — the oracle is the SAME
  // exhaustive corpus-wide Levenshtein ≤ k set as d17, so a single
  // lost pair (or a verify divergence between the two blockings)
  // hash-fails the gate. ----
  def edit_distance_blocked(s: SparkSession, dir: String): DataFrame =
    editVerify(editLshCandidates(s, dir, editK), editK)

  private[graft] def editLshCandidates(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val d = docsSpread(s, dir)
    val sigs = d.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), 5, 64).as("sig"))
    // one evaluation of the MinHash pass and the text+CharHist pass
    // each (see reusing's doc); the result here is the CANDIDATE set
    // with text attached — bounded by band collisions, the same
    // intermediate the join already materialized on the build side
    reusing(
      TextDedup.lshBuckets(sigs, "doc_id", "sig", bands = 16,
        rowsPerBand = 4),
      d.select(col("doc_id"), col("text"),
        graft.functions.CharHist(col("text")).as("hist"))) {
      case Seq(buckets, tbl) =>
        val cand = TextDedup.candidatePairs(buckets, "doc_id")
        // same measured-corpus-size join regime as d02's shingle
        // verify; the payload is the raw text the Levenshtein stage
        // needs plus the per-doc CharHist for editVerify's count filter
        lshVerifyJoin(cand, tbl, corpusDocs(s, dir),
          valCols = Seq("text", "hist"))
          .filter(abs(length(col("text_b")) - length(col("text_a"))) <= k)
          .select("id_a", "id_b", "text_a", "text_b", "hist_a", "hist_b")
    }
  }

  // ---- d19: EXACT-SUBSTRING dedup (Lee et al. 2021, "Deduplicating
  // Training Data Makes Language Models Better" — the ExactSubstr
  // operator): every MAXIMAL character span ≥ L = 40 that appears
  // verbatim in ≥ 2 documents. This is the detector that catches
  // verbatim reuse INSIDE otherwise-different documents — d01 needs
  // whole-doc equality, d10/t18 work at 8-TOKEN granularity and miss
  // sub-token/byte-exact reuse; training-data pipelines cut these
  // spans out of the surviving copy rather than dropping docs.
  //
  // The paper builds a corpus-wide suffix array; the Spark-shaped
  // equivalent is stride-1 window FINGERPRINTS: md5 of every L-char
  // window (index-explode + per-row substr — map-side, ∝ corpus
  // chars), a hash-aggregation marking windows whose hash spans ≥ 2
  // docs (shuffle carries (hash, doc) pairs only, never text), and a
  // per-doc gaps-and-islands pass (t20's machinery, doc-partitioned
  // window) merging consecutive duplicated window STARTS into maximal
  // spans: a run of r consecutive marked starts is one span of
  // r + L − 1 chars. Exactly the suffix-array result for spans ≥ L,
  // at the cost of L bytes hashed per char — the standard trade
  // (suffix arrays don't distribute; window hashes are one map pass
  // and one count shuffle).
  //
  // The fingerprint is INTERNAL (only spans are compared, so the
  // oracle's md5 and this xxhash64 need not match): WindowHashes
  // computes all per-position hashes in ONE byte sweep per doc — the
  // expression form (xxhash64 of substr under an index explode) paid
  // an O(i) position seek + a string copy per window, O(len²) per
  // doc, and the first cut's md5-as-hex shuffled 1.3M × 40 B strings.
  // The ≥2-docs mark is min(doc) ≠ max(doc) — exact for the
  // 2-distinct question and a plain min/max partial agg where
  // countDistinct pays the two-phase expand. Together: 10.2 → 2.4 s
  // at sf0.1 (the plan still evaluates the window pass once per
  // consumer of `w` — each pass is now one cheap sweep). ----
  def exact_substrings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 40
    // ONE evaluation of the window-fingerprint pass (optimization
    // r18): the previous groupBy(g)+left-semi shape had two consumers
    // of `w`, so the scan + WindowHashes sweep + posexplode ran TWICE
    // (plus an aggregation exchange AND a join exchange). The ≥2-docs
    // mark is a per-g-group min≠max — exactly a window aggregate: one
    // eval of `w`, one exchange by g, no join. Same rows survive by
    // construction (min/max per g are identical either way).
    val wg = Window.partitionBy("g")
    val w = substrWindows(s, dir, L)
    w.withColumn("d0", min("doc_id").over(wg))
      .withColumn("d1", max("doc_id").over(wg))
      .filter(col("d0") =!= col("d1"))
      .select("doc_id", "i")
      .withColumn("island", col("i") - row_number().over(
        Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id", "island")
      .agg(min("i").cast("long").as("span_start"),
        (count(lit(1)) + (L - 1)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** The shared d19/d20 stride-1 window-fingerprint table
    * (doc_id, i = 1-based char start, g = window hash). The
    * byte==char guard is EXPLICIT: [[graft.functions.WindowHashes]]
    * fingerprints BYTE windows while span arithmetic (and the DuckDB
    * oracle's `substr`) is in CHARACTERS, so only docs where the two
    * coincide enter the window machinery — a non-ASCII doc passes
    * through d20 uncut rather than getting mis-aligned spans, and the
    * previously implicit ASCII-corpus assumption is now a filter both
    * engines apply identically.
    */
  private def substrWindows(s: SparkSession, dir: String, L: Int): DataFrame =
    // read-side rebalance: the one-sweep WindowHashes kernel + the
    // posexplode otherwise run on the single scan partition
    docsSpread(s, dir)
      .filter(length(col("text")) >= L &&
        octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), posexplode(
        graft.functions.WindowHashes(col("text"), L)).as(Seq("p", "g")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("i"), col("g"))

  // ---- d20: EXACT-SUBSTRING CUT — the consumer of d19's spans and
  // the operation Lee et al. actually apply to training data: every
  // duplicated window survives only in its OWNING document (the
  // minimum doc_id containing that window); every other document has
  // its duplicated character ranges EXCISED, emitting the cleaned
  // corpus. Output is (doc_id, clean_text, cut_chars) for the whole
  // corpus — the fixed-point contract (spec-pinned): re-running d19
  // over the cleaned corpus finds ZERO cross-doc spans.
  //
  // Shape: the d19 fingerprint pass marks each (doc, window-start)
  // whose hash some SMALLER doc also contains (min(doc) per hash is
  // the ownership rule — one aggregation, no pairwise join); marked
  // starts merge into maximal raw spans (t20 gaps-and-islands), and
  // because islands separated by a start-gap < L still OVERLAP in
  // character space, a second running-max pass unions the intervals
  // before splicing. The splice itself is one ordered fold over each
  // doc's interval list (collect_list is bounded by the doc's own
  // span count — intervals are per-doc data, never corpus-wide), a
  // map-side HOF; shuffles carry (hash, doc) and (doc, interval)
  // only, never text, and text crosses exactly once into the final
  // per-doc join. ----
  def exact_substr_cut(s: SparkSession, dir: String): DataFrame =
    cutCorpus(s, dir).select("doc_id", "clean_text", "cut_chars")
      .orderBy("doc_id")

  /** d20's cut corpus with the doc's grouping columns (lang, source)
    * still attached — the composition surface: p18 chains this into
    * p16's packing and p15's manifest without re-joining `documents`
    * a second time.
    */
  private[queries] def cutCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 40
    // one eval of `w` (optimization r18, the d19 reshape): ownership
    // (min doc_id per hash) as a window aggregate instead of a
    // groupBy+join back onto `w` — the join form re-ran the whole
    // window-fingerprint pass for the second consumer. One row per
    // (doc, i) either way: each position has one hash and one owner.
    val w = substrWindows(s, dir, L)
    val toCut = w
      .withColumn("own",
        min("doc_id").over(Window.partitionBy("g")))
      .filter(col("doc_id") > col("own"))
      .select("doc_id", "i")
    val isl = toCut
      .withColumn("island", col("i") - row_number().over(
        Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id", "island")
      .agg(min("i").as("a"), (max("i") + (L - 1)).as("b"))
    // interval UNION: islands are maximal in start-space, not in
    // char-space — a start-gap g < L leaves the two spans overlapping
    // by L - g chars. Running max of prior ends; a new group starts
    // strictly past it.
    val byA = Window.partitionBy("doc_id").orderBy("a")
    val iv = isl
      .withColumn("pmax", max(col("b")).over(
        byA.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("a") > col("pmax"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        byA.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("a").as("a"), max("b").as("b"))
    val cuts = iv.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("a"), col("b")))).as("iv"),
        sum(col("b") - col("a") + 1).as("cut_chars"))
    // rebalanced: the splice fold runs map-side on this join's probe
    // partitions — one scan partition would serialize it
    val d = docsSpread(s, dir)
    d.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("iv").isNull, col("text")).otherwise(
          // ordered fold over the disjoint intervals: carry (next
          // uncut position, accumulated kept text); finish appends
          // the tail past the last interval. All-integer arithmetic,
          // so the oracle's gap-row splice is engine-exact.
          aggregate(col("iv"),
            struct(lit(1L).as("pos"), lit("").as("acc")),
            (st, x) => struct(
              (x.getField("b") + 1L).as("pos"),
              concat(st.getField("acc"), col("text").substr(
                st.getField("pos").cast("int"),
                (x.getField("a") - st.getField("pos")).cast("int")))
                .as("acc")),
            st => concat(st.getField("acc"), col("text").substr(
              st.getField("pos").cast("int"),
              greatest(lit(0L),
                length(col("text")) - st.getField("pos") + 1L).cast("int")))))
          .as("clean_text"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
  }

  // ---- d15: INCREMENTAL near-dup — the production ingest shape d14
  // is the exact-dup half of: the standing corpus (even ids) is a
  // banded MinHash-LSH INDEX (at 100 TB a persisted, bucket-
  // partitioned table written at index-build time), a new batch (odd
  // ids) probes it with one (band, bucket) equi-join, and only
  // banded candidates pay the exact-Jaccard verify. Probe cost ∝
  // batch × bucket occupancy — independent of corpus size with
  // balanced buckets — vs d02's corpus-wide self-join. Same recall
  // gate as d02/d03/d13: the output must equal the EXHAUSTIVE
  // J ≥ 0.8 cross-parity pair set, proving the banded probe loses
  // nothing on this corpus. ----
  def incremental_neardup(s: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(s, dir)
    def sigs(df: DataFrame) = df.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), 5, 64).as("sig"))
    val idx = TextDedup.lshBuckets(sigs(d.filter(col("doc_id") % 2 === 0)),
      "doc_id", "sig", bands = 16, rowsPerBand = 4)
    val prb = TextDedup.lshBuckets(sigs(d.filter(col("doc_id") % 2 === 1)),
      "doc_id", "sig", bands = 16, rowsPerBand = 4)
    val t0 = d.select(col("doc_id"),
      graft.functions.ShingleHashSorted(col("text"), 5).as("sh"))
    // the shingle table feeds BOTH verify sides — one evaluation via
    // reusing (the index/probe bucket branches are each single-
    // consumer already)
    reusing(t0) { case Seq(t) =>
      val cand = TextDedup.candidatePairsAcross(prb, idx, "doc_id")
      // join ORDER is the shuffle budget: the corpus-side arrays attach
      // first via the id-keyed join (bare (probe_id, index_id) pairs +
      // each corpus array crossing once), and the BATCH-side arrays
      // broadcast LAST — batch is bounded by the ingest contract. The
      // reverse order measured 360 MB at the M=10 rehearsal because
      // every candidate row carried its probe array through the
      // index-side exchange (one array per CANDIDATE, not per doc).
      cand
        .join(t.select(col("doc_id").as("index_id"), col("sh").as("sh_b")),
          Seq("index_id"))
        .join(broadcast(
          t.select(col("doc_id").as("probe_id"), col("sh").as("sh_a"))
            .where(col("probe_id") % 2 === 1)),
          Seq("probe_id"))
        .withColumn("inter",
          graft.functions.SortedLongIntersect(col("sh_a"), col("sh_b")))
        .withColumn("un", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("un") >= 0.8)
        .select(col("probe_id").as("batch_id"),
          col("index_id").as("corpus_id"), col("inter"), col("un"))
    }.orderBy("batch_id", "corpus_id")
  }

  // ---- d13: densified-OPH MinHash-LSH — d02's recall-gate structure
  // through the one-hash-per-shingle signature family (OPH, Li/Owen/
  // Zhang 2012 + rotation densification, Shrivastava/Li 2014): the
  // signature costs ONE xxhash64 per window where d02's MinHashSig
  // pays 64, banding and exact verify are identical, and the output
  // must equal the SAME exhaustive exact-Jaccard pair set as d02/d03
  // — three independent candidate generators, one ground truth. A
  // pass proves densified-OPH banding loses none of this corpus's
  // J ≥ 0.8 pairs; this is the signature to switch to when
  // |shingles| ≫ nBins and signature hashing (not the verify join)
  // dominates — the long-document regime named in d02's A/B note. ----
  def oph_lsh_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(s, dir)
    val sigs = d.select(col("doc_id"),
      graft.functions.OphSig(col("text"), 5, 64).as("sig"))
    val t0 = d.select(col("doc_id"),
      graft.functions.ShingleHashSorted(col("text"), 5).as("sh"))
    // one evaluation of each signature pass (see reusing's doc)
    reusing(
      TextDedup.lshBuckets(sigs, "doc_id", "sig", bands = 16, rowsPerBand = 4),
      t0) { case Seq(buckets, t) =>
      val cand = TextDedup.candidatePairs(buckets, "doc_id")
      // same measured-regime verify join as d02 (see lshVerifyJoin)
      lshVerifyJoin(cand, t, corpusDocs(s, dir))
        .withColumn("inter",
          graft.functions.SortedLongIntersect(col("sh_a"), col("sh_b")))
        .withColumn("un", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("un") >= 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("un"))
    }.orderBy("id_a", "id_b")
  }

  // ---- SimHash near-dup detection (banded hamming ≤ 12), run as a
  // RECALL GATE like d02: the banded candidate pairs are verified with
  // exact shingle Jaccard at J >= 0.8, and the gate output — the
  // candidate∩exact set — must equal the oracle's exhaustive exact
  // pair set. The two dedup flagships thus share ONE ground truth
  // reached through two independent candidate generators (MinHash
  // banding there vs sign-vote fingerprints + byte-pair blocking here):
  // a pass proves this corpus's J >= 0.8 pairs all sit within
  // hamming ≤ 12 AND collide on a block-pair key — exactly the recall
  // property the SimHash detector claims at this threshold. Native SimHashSig
  // expression (value-identical to the HOF form, pinned by spec) —
  // one primitive pass per doc. ----
  def simhash_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(s, dir)
    val sigs = d.select(col("doc_id"),
      graft.functions.SimHashSig(col("text")).as("sig"))
    // Byte-pair blocking (see TextDedup.simhashBlockPairKeys): recall 1
    // for hamming ≤ 6 by pigeonhole, 2¹⁶-value buckets so candidate
    // volume stays ≈ 28N²/2¹⁷ — the 4×16 quarter-band alternative
    // measurably lost 2 of the 25 J ≥ 0.8 pairs (hamming 4–5 spread
    // over all four quarters), and single-byte bands blew candidates
    // up 50× (N²/2⁹ on 2⁸-value buckets).
    val banded0 = sigs.select(col("doc_id"), col("sig"),
      explode(TextDedup.simhashBlockPairKeys(col("sig"))).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bucket"))
    val t0 = d.select(col("doc_id"),
      graft.functions.ShingleHashSorted(col("text"), 5).as("sh"))
    // one evaluation of the SimHash pass and the shingle pass each —
    // the banded self-join and the two verify sides previously re-ran
    // them (see reusing's doc)
    reusing(banded0, t0) { case Seq(banded, t) =>
      val a = banded.select(col("band"), col("bucket"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = banded.select(col("band"), col("bucket"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val cand = a.join(b, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b").distinct()
        .withColumn("hamming", TextDedup.hamming64(col("sig_a"), col("sig_b")))
        .filter(col("hamming") <= 12)
        .select("id_a", "id_b")
      cand
        .join(t.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(t.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("inter",
          graft.functions.SortedLongIntersect(col("sh_a"), col("sh_b")))
        .withColumn("un", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("un") >= 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("un"))
    }.orderBy("id_a", "id_b")
  }

  // ---- word-set Jaccard over sliding-window candidate pairs (the exact
  // verification stage; SQL-expressible so it carries a full oracle).
  // The window condition id_a < id_b <= id_a+20 is materialized as an
  // EQUI-join: explode each left doc to its 20 candidate ids and hash-
  // join on id_b. The naive range-condition join has no equi-key and
  // plans as BroadcastNestedLoopJoin — O(N²) compares at scale; this
  // form shuffles 20 small rows per doc and stays a hash join. ----
  def jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsRaw(s, dir).orderBy("id_a", "id_b")

  /** d04 without the gate's presentation ORDER BY — the form the
    * pair-consuming operators (p02 connected components, g05
    * triangles) take as input; a global sort on an intermediate edge
    * list is pure waste there.
    */
  private def jaccardPairsRaw(s: SparkSession, dir: String): DataFrame = {
    // NOTE: the (doc_id, token-set) projection is computed on both
    // join sides (the exploded projection defeats exchange reuse). A
    // localCheckpoint here measured a wash at sf0.1 AND leaks a
    // pinned copy per invocation (nothing unpersists a checkpoint
    // returned inside a lazy plan) — at 100 TB the right form is a
    // persisted tokenized-corpus TABLE, not a per-query cache.
    //
    // Token sets travel as SORTED HASH ARRAYS (TokenHashSorted): the
    // exploded side shuffles each doc's set ~20×, and packed longs are
    // ~10× smaller than the string arrays they replace, with the
    // per-pair Jaccard a primitive sorted merge instead of HOF
    // string-equality — measured 2.3× on this detector (1.78 → 0.78 s
    // warm at sf0.1), which feeds d04, d06, p02 and g05. Word-set
    // semantics (and the oracles) are unchanged: 64-bit hashing is
    // collision-free at any real document's vocabulary size.
    val d = docs(s, dir).select(col("doc_id"),
      graft.functions.TokenHashSorted(col("text")).as("w"))
    val a = d.select(col("doc_id").as("id_a"), col("w").as("w_a"))
      .withColumn("id_b", explode(sequence(col("id_a") + 1, col("id_a") + 20)))
    val b = d.select(col("doc_id").as("id_b"), col("w").as("w_b"))
    a.join(b, Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.SortedLongJaccard(col("w_a"), col("w_b")))
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"))
  }

  // ---- asymmetric containment dedup: overlap coefficient
  // |A∩B|/min(|A|,|B|) over the same equi-window candidate generator
  // as d04. Catches subset duplicates — a short doc pasted inside a
  // longer one — whose symmetric Jaccard stays below any useful
  // threshold. Same scale shape as d04: explode to 20 candidate ids,
  // hash join, never a range join. ----
  def containment_pairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsRaw(s, dir).orderBy("id_a", "id_b")

  /** d06 without the presentation sort — the edge-batch form g12's
    * incremental component-map maintenance consumes.
    */
  private def containmentPairsRaw(s: SparkSession, dir: String): DataFrame = {
    // same hashed-token-set form as jaccardPairsRaw (see the note
    // there); overlap coefficient = |A∩B| / min(|A|,|B|) built from
    // the primitive sorted-merge intersect
    val d = docs(s, dir).select(col("doc_id"),
      graft.functions.TokenHashSorted(col("text")).as("w"))
    val a = d.select(col("doc_id").as("id_a"), col("w").as("w_a"))
      .withColumn("id_b", explode(sequence(col("id_a") + 1, col("id_a") + 20)))
    val b = d.select(col("doc_id").as("id_b"), col("w").as("w_b"))
    a.join(b, Seq("id_b"))
      .withColumn("overlap",
        graft.functions.SortedLongIntersect(col("w_a"), col("w_b"))
          .cast("double") / least(size(col("w_a")), size(col("w_b"))))
      .filter(col("overlap") >= 0.9)
      .select(col("id_a"), col("id_b"))
  }

  // ---- eval-set decontamination: find training docs that leak an
  // eval doc (here: source src9 plays the held-out set). Candidate
  // generation is an INVERTED-INDEX join on shared word-5-grams —
  // the real 100-TB shape (train×eval cross products are off the
  // table at 1e9 × 1e4 docs); the small eval side broadcasts, the
  // distinct (train, eval) candidate pairs are then verified with
  // the overlap coefficient (threshold 0.8) and an exact-fingerprint
  // flag. LONG grams are load-bearing at scale: real decontamination
  // uses 8–13-gram collision because short grams over a skewed
  // vocabulary explode the inverted index (measured here: 3-grams →
  // 105k candidate pairs at sf0.1, 5-grams → 138). Docs under 5
  // tokens produce no grams and can't be flagged — same contract as
  // n-gram decontamination anywhere. ----
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // prep (tokenize + fingerprint + token set) is consumed by four
    // branches; column pruning means each branch computes only what it
    // uses, and recomputing these map-only projections measures FASTER
    // than materializing them (localCheckpoint of the prep: 3.1 s vs
    // 1.3 s at sf0.1 — the checkpointed arrays are corpus-sized, and
    // the same storage-vs-recompute trade holds at 100 TB)
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.tokenSet(col("text")).as("w"),
      TextFunctions.tokens(col("text")).as("toks"))
    // inverted index via gramRows (index-explode + per-row slice) —
    // NOT explode(wordNgrams(...)), whose inferred size>0 pre-filter
    // inlines the tokenizer into lambda scope and re-evaluates it per
    // element on the scan partitions (measured 20 s vs <1 s at sf0.1;
    // see TextDedup.gramRows)
    val candidates = TextDedup.gramRows(
        d.filter(col("source") =!= "src9").select(col("doc_id"), col("toks")),
        "doc_id", "toks", 5)
      .withColumnRenamed("doc_id", "train_id")
      .join(broadcast(TextDedup.gramRows(
          d.filter(col("source") === "src9").select(col("doc_id"), col("toks")),
          "doc_id", "toks", 5)
        .withColumnRenamed("doc_id", "eval_id")),
        "gram")
      .select("train_id", "eval_id").distinct()
    val trainMeta = d.filter(col("source") =!= "src9")
      .select(col("doc_id").as("train_id"), col("fp"), col("w"))
    val evalMeta = d.filter(col("source") === "src9")
      .select(col("doc_id").as("eval_id"), col("fp").as("fp_e"), col("w").as("w_e"))
    candidates
      .join(trainMeta, "train_id")
      .join(broadcast(evalMeta), "eval_id")
      .withColumn("overlap",
        round(TextDedup.overlapCoefficient(col("w"), col("w_e"))
          .cast("decimal(20,10)"), 4).cast("double"))
      .withColumn("is_exact", col("fp") === col("fp_e"))
      .filter(col("overlap") >= 0.8 || col("is_exact"))
      .select("train_id", "eval_id", "overlap", "is_exact")
      .orderBy("train_id", "eval_id")
  }

  // ---- d10: duplicate-PASSAGE detection — the span-level complement
  // of whole-doc dedup (the "dedup the substring, keep the doc"
  // family of Lee et al. 2022's exact-substring dedup, expressed
  // relationally): every 8-token sliding window is hashed map-side,
  // windows whose hash occurs in ≥ 2 distinct docs are duplicated
  // passages, and each doc reports its total vs duplicated window
  // counts — the signal a cleaning pipeline thresholds on (drop docs
  // that are mostly boilerplate spans, trim the spans otherwise).
  // Scale shape: the shuffle carries (hash, doc_id) pairs only, never
  // window text (pinned by PlanContractSpec); the dup-marker side is
  // duplicated-grams-sized — a sliver of the corpus — so it
  // broadcasts here and hash-joins co-keyed on `g` past the
  // broadcast threshold. Index-explode + per-row slice for the windows (not
  // explode(transform(...)) — see TextDedup.gramRows' measured
  // trap). Integer-only output: no cross-engine float risk. ----
  def dup_passages(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = docs(s, dir).select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks"))
    val w = t.select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))).as("__i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("__i"), lit(n)), " ")).as("g"))
    val dup = w.groupBy("g").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select(col("g"), lit(1).as("isdup"))
    w.join(dup, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("isdup"), lit(0))).cast("long").as("dup_windows"))
      .orderBy("doc_id")
  }

  // ---- t18: contamination DENSITY — d07 answers IF a doc matches
  // the eval set (whole-content hash), this answers HOW MUCH: the
  // count of a doc's 8-token windows that appear anywhere in the
  // eval-set docs (doc_id % 97 = 0), the d10 window machinery aimed
  // across the train/eval split. The filter a pipeline actually
  // deploys: whole-doc decontamination misses quoted benchmark
  // fragments; window density catches partial contamination and
  // gives the threshold knob. INTEGER-ONLY output (n_windows,
  // n_contaminated) — no float discipline needed. Scale: the eval
  // window-hash set is benchmark-sized (broadcastable in deployment);
  // the shuffle carries (hash, id), never text. ----
  def contamination_density(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = docs(s, dir).select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks"))
    val w = t.select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))).as("__i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("__i"), lit(n)), " ")).as("g"))
    val evalSet = w.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct().withColumn("__hit", lit(1))
    w.filter(col("doc_id") % 97 =!= 0)
      .join(evalSet, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0))).cast("long")
          .as("n_contaminated"))
      .orderBy("doc_id")
  }

  // ---- t20: MEMORIZATION SPANS — the longest CONSECUTIVE run of
  // 8-token windows a training doc shares with the eval set. t18
  // answers "how much eval content leaked into this doc" (window
  // density); this answers "how LONG is the longest verbatim
  // overlap" — the memorization metric: a run of r consecutive
  // windows is r+7 contiguous shared tokens, and a doc with density
  // 2% but one 60-token verbatim span is a worse leak than 2%
  // scattered n-gram noise. Classic gaps-and-islands: hit windows
  // grouped by (position − rank) — consecutive positions share one
  // island key. The row_number window is PARTITIONED by doc_id
  // (per-doc window count is bounded by doc length — never a global
  // sort funnel); shuffles carry (md5 hash, doc_id, position) only.
  // Output is integer-only: (doc_id, max_run), 0 for clean docs. ----
  def memorization_spans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 8
    val t = docs(s, dir).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val w = t.select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"),
        col("toks"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("toks"), col("i"), lit(n)), " ")).as("g"))
    val evalSet = w.filter(col("doc_id") % 97 === 0).select("g").distinct()
    val hits = w.filter(col("doc_id") % 97 =!= 0)
      .join(evalSet, Seq("g"), "left_semi")
    val runs = hits
      .withColumn("island", col("i") - row_number().over(
        Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id", "island").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("max_run"))
    t.filter(col("doc_id") % 97 =!= 0).select("doc_id")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  // ---- embedding cosine near-dup, IVF-blocked by `label`. Threshold
  // 0.35 verified ≥5e-5 away from every pair's cosine at all SFs, so
  // cross-engine double noise cannot flip membership. ----
  def embedding_neardup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(embs(s, dir), threshold = 0.35, blockCol = "label")
      .orderBy("id_a", "id_b")

  // ---- brute-force cosine top-k ANN (10 query vectors) ----
  def ann_topk(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.bruteForceTopK(corpus, queries, k = 10)
      .orderBy("query_id", "rank")
  }

  // ---- s10: scalar-quantized (int8) brute-force top-k — the third
  // member of the quantization family (IVF cells s02/s03, PQ codes
  // s04/s05, SQ8 here): per-row symmetric int8 codes over the unit
  // vector, integer dots rescaled once per pair. The 4× storage/
  // shuffle shrink is the 100-TB lever; ranking is exact integer
  // arithmetic × two deterministic double scales, so the oracle
  // replays codes and ranks bit-for-bit. Output is (query, rank,
  // neighbor) — integers only, the s01 convention. ----
  def sq8_topk(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    graft.operators.Quantize.bruteForceTopKInt8(corpus, queries, k = 10)
      .orderBy("query_id", "rank")
  }

  // ---- IVF-blocked ANN (single-probe; the 100-TB path). Carries a
  // FULL oracle: single-probe over a natural block column scans the
  // query's entire bucket, so within-block top-k is exact and DuckDB
  // reproduces it (list_inner_product + the same (cos DESC, id ASC)
  // cut). Cross-bucket recall remains spec territory. ----
  def ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.ivfTopK(corpus, queries, k = 10, blockCol = "label")
      .orderBy("query_id", "rank")
  }

  // ---- s13: FILTERED ANN — top-k under a metadata predicate
  // (documents.lang = 'en'), the shape retrieval actually runs:
  // "nearest neighbors among docs satisfying P". Strategy is
  // PRE-FILTER (filter → search): the predicate restricts the corpus
  // BEFORE the block scan, so the result is exactly the top-k of the
  // eligible set — no recall loss from a post-filter over-fetch, and
  // the single-probe IVF oracle replays it exactly. Post-filtering
  // (search k' > k then drop non-matching) is the right strategy only
  // for highly SELECTIVE predicates over a prebuilt unfiltered index;
  // at 44% selectivity pre-filter is strictly better. The selective
  // regime is gated as s14 ([[filtered_ann_post]]) and the pre/post
  // crossover is measured in SCALE.md's annfilter mode.
  //
  // Scale note: the predicate column is joined in from `documents`
  // here via an ids-only left_semi (lang is a documents attribute);
  // at 100 TB a filtered-ANN deployment DENORMALIZES the filter
  // attributes into the vector table (or partitions the index by
  // them) precisely so this join disappears — the gate's semi-join
  // models the metadata path with id movement only, never vectors
  // crossing for the join. ----
  def filtered_ann(s: SparkSession, dir: String): DataFrame = {
    val enIds = docs(s, dir).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val corpus = embs(s, dir).join(enIds, Seq("vec_id"), "left_semi")
    val queries = embs(s, dir).filter(col("vec_id") < 10)
    Similarity.ivfTopK(corpus, queries, k = 10, blockCol = "label")
      .orderBy("query_id", "rank")
  }

  // ---- s14: POST-FILTER ANN — s13's contrast, the strategy for
  // SELECTIVE predicates over a PREBUILT unfiltered index: search the
  // query's block for the top-k′ unfiltered, then drop non-matching
  // and keep the best k. k′ is DERIVED from the measured selectivity
  // — k′ = ⌈k / sel⌉ = ⌈k·|corpus| / |eligible|⌉, all-integer so the
  // oracle replays the same arithmetic — which at this corpus's 2.4%
  // predicate (lang='en' AND source='src3') gives k′ = 42 against a
  // ~50-vector block: the genuinely lossy regime (a query whose top-42
  // holds no eligible vector returns nothing; the spec measures that
  // recall trade against the exact pre-filter answer).
  //
  // Why post-filter exists at all (the s13 note, now gated + measured
  // in SCALE.md's annfilter mode): pre-filter pays the predicate JOIN
  // over the whole corpus before the index can prune — ids ∝ N cross
  // the semi-join even though the probe touches one block — while
  // post-filter's predicate join touches only k′·|queries| candidate
  // rows, independent of N. The re-rank is over the shortlist's
  // integer ranks (which already encode cos DESC, id ASC), so no
  // float crosses the re-ranking step. ----
  def filtered_ann_post(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 1L
    val d = docs(s, dir)
    val total = d.count()
    val elig = d.filter(col("lang") === "en" && col("source") === "src3")
      .select(col("doc_id").as("neighbor_id"))
    val nElig = elig.count() // bounded: one long each
    require(nElig > 0,
      "s14: the post-filter predicate matches no documents — " +
        "over-fetch factor is undefined on an empty eligible set")
    val kPrime = ((k * total + nElig - 1) / nElig).toInt
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.ivfTopK(corpus, queries, k = kPrime, blockCol = "label")
      .join(elig, Seq("neighbor_id"), "left_semi")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy("rank")).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  // ---- s11: corpus k-NN GRAPH — every vector's top-3 neighbors
  // within its IVF block, the all-to-all construction SemDeDup
  // clustering and NN-descent/graph-ANN seeding start from. Block-
  // keyed SELF-join (both sides corpus-sized → no broadcast), bounded
  // top-k so only k rows per vector leave any partition; nlist ∝ N
  // keeps per-vector cost flat at scale (the measured s02 argument).
  // Output carries no floats — (query, rank, neighbor), ties by
  // (cos DESC, id ASC) — so the oracle hash-compares exactly. ----
  def knn_graph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(embs(s, dir), k = 3, blockCol = "label")
      .orderBy("query_id", "rank")

  // ---- s12: MMR diversified re-rank — brute top-10 shortlist per
  // query (the s01 broadcast-cross scan, vectors riding in the
  // bounded top-k buffer), then the [[graft.functions.MmrSelect]]
  // greedy picks 5 trading relevance (λ=0.7) against redundancy to
  // already-picked results — retrieval's answer to near-duplicate
  // result lists. All comparisons run over pre-quantized integer
  // cosines, so the DuckDB oracle unrolls the same 5 greedy steps
  // bit-for-bit. ----
  def mmr_rerank(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    Similarity.mmrRerank(corpus, corpus.filter(col("vec_id") < 10),
        kShortlist = 10, kSelect = 5, lambda = 0.7)
      .orderBy("query_id", "rank")
  }

  // ---- trained-quantizer IVF (k-means coarse quantizer, nProbe=2).
  // FULL oracle: k-means init is randomized, but the PROBE path is a
  // pure function of the centroids — so the fit persists its centroids
  // to a per-SF parquet ([[s03CentroidsPath]], the index-build artifact
  // a 100-TB deployment writes anyway) and the DuckDB oracle reads the
  // SAME centroids back, replaying assignment (argmin squared-L2, ties
  // by cluster_id), the 2-probe selection, and the (cos DESC, id ASC)
  // top-k cut. Train and probe stay SEPARATE phases: the quantizer is
  // fit once per corpus (sample-bounded) and cached here — exactly the
  // 100-TB contract, where centroids are persisted at index-build time
  // and queries only probe. Repeat invocations (bench pass 2, repeated
  // API calls) run zero ML work. ----
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Where s03 persists its trained centroids, keyed by the SF dir's
    * basename so concurrent SFs never clobber each other; the oracle
    * SQL reads the sf0.01 instance (the driver's verify SF).
    */
  def s03CentroidsPath(dir: String): String =
    s"/tmp/graft_s03_centroids/${new java.io.File(dir).getName}"

  /** Every per-SF persisted artifact root for `dir` — the index-build
    * products the gates write and the oracles read back. Verify
    * deletes these at start so a stale artifact from differently-
    * generated test data (same basename, older /tmp survivor) can
    * never feed an oracle a false pass/fail: each run's gates rebuild
    * their own artifacts before any oracle reads them.
    */
  def artifactPaths(dir: String): Seq[String] = Seq(
    s03CentroidsPath(dir), d09CentroidsPath(dir), s04PqPath(dir),
    p02ComponentsPath(dir), t21BpePath(dir), d16StopPath(dir),
    // t26's fixture corpus and its trained-tokenizer artifact are
    // SF-independent (the fixture IS the corpus) but join the sweep
    // so Verify rebuilds them fresh — deterministic bytes, and the
    // oracle's literal-path reads stay inside the audited roots
    t26CorpusPath, t21BpePath(t26CorpusPath),
    p20CompactPath(dir), p21CompactPath(dir),
    RefQueries.bucketedEventsPath(dir), RefQueries.zorderEventsPath(dir))

  /** Drops every per-SF artifact memo — the companion to
    * [[artifactPaths]]: Verify deletes the persisted roots up front,
    * and without this a same-JVM re-entry after that deletion (a
    * second Verify pass, or a test + gate mix) would trust a memo
    * whose backing parquet no longer exists and fail on read. Called
    * by Verify right after the deletion; the per-memo existence
    * checks (bpe/d16) cover flows that never go through Verify.
    */
  def clearArtifactMemos(): Unit = {
    docCountMemo.clear(); d16Built.clear(); quantizerCache.clear()
    d09Cache.clear(); pqCache.clear(); bpeBuilt.clear(); ccBuilt.clear()
    t26Built.clear(); p20Built.clear(); p21Built.clear(); clearT27Memo()
    RefQueries.clearBucketedMemo(); RefQueries.clearZorderMemo()
  }

  /** The shared trained coarse quantizer (fit once per SF, persisted
    * for the oracles) — s03's probe and d09's semantic dedup both hang
    * off the SAME index-build artifact, as a real deployment would.
    */
  private[queries] def centroidsFor(s: SparkSession, dir: String): Array[Array[Double]] =
    quantizerCache.computeIfAbsent(dir, _ => {
      val c = Similarity.trainQuantizer(embs(s, dir), nClusters = 8,
        maxTrainRows = 20000L)
      // persisted INSIDE the fit: the dump always matches the centroids
      // this JVM probes with, even if a refit elsewhere would drift
      Similarity.saveQuantizer(s, c, s03CentroidsPath(dir))
      c
    })

  def ann_ivf_kmeans(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.ivfTopKByCentroids(corpus, queries, k = 10,
      centroidsFor(s, dir), nProbe = 2)
      .orderBy("query_id", "rank")
  }

  // ---- d09: SemDeDup — semantic dedup by coarse-quantizer blocking
  // (assign to nearest k-means cell, drop within-cell cosine near-dups
  // keeping the lowest id). The cluster blocking bounds the pair space
  // (Σ cell², not N²) — THE property that separates semantic dedup
  // that runs at 100 TB from one that doesn't — and the cell count is
  // the knob: d09 trains its OWN 32-cell quantizer (persisted like
  // s03's, read back by the oracle) rather than reusing s03's 8-cell
  // probe index, because finer cells quarter the intra-cell pair work
  // (measured 2.4 s → ~1 s at sf0.1); at 100 TB you keep raising k so
  // cells stay bounded while assignment stays one map-only pass. ----
  private val d09Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  def d09CentroidsPath(dir: String): String =
    s"/tmp/graft_d09_centroids/${new java.io.File(dir).getName}"

  def semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val centroids = d09Cache.computeIfAbsent(dir, _ => {
      val c = Similarity.trainQuantizer(embs(s, dir), nClusters = 32,
        maxTrainRows = 20000L)
      Similarity.saveQuantizer(s, c, d09CentroidsPath(dir))
      c
    })
    Similarity.semanticDedup(embs(s, dir), centroids, threshold = 0.35)
      .orderBy("drop_id")
  }

  // ---- s06: recall@10 eval of the label-blocked IVF probe against
  // exact brute force — the acceptance gate of any ANN rollout, run
  // over the production operators themselves. Integer outputs
  // (n_exact, n_hits) so the oracle comparison is drift-free. ----
  def ann_recall(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, queries, k = 10),
      Similarity.ivfTopK(corpus, queries, k = 10, blockCol = "label"))
      .orderBy("query_id")
  }

  // ---- s16: multi-probe RECALL eval — s06's measurement harness
  // pointed at the s15 index: recall@10 of Hamming-1 multi-probe
  // against the exact brute-force ground truth, per query, as DATA
  // (n_exact, n_hits are integers, so the oracle replays the whole
  // measurement). The eval-as-a-query pattern is what lets an index
  // deployment regression-test recall inside the engine itself. ----
  def multiprobe_recall(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, queries, k = 10),
      Similarity.multiProbeLshTopK(corpus, queries, k = 10,
        nBits = 4, dim = 64))
      .orderBy("query_id")
  }

  // ---- s04: product-quantization codes — the PQ compression pass of
  // IVF-PQ. Same persisted-codebook contract as s03: the 8×16
  // codebook is fit once (sample-bounded, seeded), dumped to parquet,
  // and the encode is a map-only projection; the oracle re-derives
  // every code from the SAME codebook parquet with the same
  // left-to-right distance arithmetic and low-id tie rule. ----
  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  def s04PqPath(dir: String): String =
    s"/tmp/graft_s04_pq/${new java.io.File(dir).getName}"

  private def pqFor(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqCache.computeIfAbsent(dir, _ => {
      val p = Similarity.trainProductQuantizer(embs(s, dir), m = 8,
        kPerSub = 16, maxTrainRows = 20000L)
      Similarity.saveProductQuantizer(s, p, s04PqPath(dir))
      p
    })

  def pq_codes(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(embs(s, dir), pqFor(s, dir)).orderBy("vec_id")

  // ---- s05: the ADC probe over those codes — IVF-PQ's query side.
  // Query vectors are the same 10-row probe set as s01-s03 (bounded
  // driver fetch, the "centroids pattern"); output ranks are exact
  // under the codebook, so the oracle recomputes codes AND distance
  // tables from the persisted codebook and must reproduce every
  // (query, rank, neighbor) triple. ----
  def pq_adc(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val pq = pqFor(s, dir)
    import s.implicits._
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    Similarity.pqAdcTopK(Similarity.pqEncode(corpus, pq), queries, pq, k = 10)
      .orderBy("query_id", "rank")
  }

  // ---- s07: the COMBINED IVF-PQ probe — coarse cells (s03's persisted
  // quantizer) prune the scan to each query's 2 probed buckets, ADC
  // (s04's persisted codebook) ranks the survivors. One equi-join plan,
  // no cross join anywhere: the deployed ANN shape s02–s05 build up to.
  // Oracle recomputes cells, codes, and distance tables from the same
  // two parquet artifacts and must reproduce every (query, rank,
  // neighbor) triple. ----
  def pq_ivf_adc(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val centroids = centroidsFor(s, dir)
    val pq = pqFor(s, dir)
    import s.implicits._
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val codes = Similarity.pqEncode(
      Similarity.assignCells(corpus, centroids), pq, keep = Seq("cell"))
    Similarity.pqAdcTopKBlocked(codes, queries, centroids, pq,
      k = 10, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  // ---- s09: IVF-PQ with EXACT re-ranking — the production two-stage
  // search (FAISS search-then-refine): s07's ADC pass shortlists 30
  // candidates per query, the shortlist re-scores against the raw
  // vectors, exact cosine cuts the final top-10. The refine join
  // broadcasts the Q×30 shortlist and STREAMS the corpus — vectors
  // never shuffle. Oracle composes s07's ADC CTEs (same two parquet
  // artifacts) with the s01-style exact rerank. ----
  def pq_ivf_rerank(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val centroids = centroidsFor(s, dir)
    val pq = pqFor(s, dir)
    import s.implicits._
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val codes = Similarity.pqEncode(
      Similarity.assignCells(corpus, centroids), pq, keep = Seq("cell"))
    Similarity.pqAdcRerankTopK(codes, corpus, queries, centroids, pq,
        k = 10, nProbe = 2, rerank = 30)
      .orderBy("query_id", "rank")
  }

  // ---- s08: banded hyperplane-LSH ANN — the OR-amplified LSH-bucket
  // scale path (4 bands × 4 sign-projection bits), fully
  // engine-reproducible: the ±1 planes regenerate from md5 in any
  // engine and the projections are exact integer sums over the
  // micro-quantized vectors, so candidate buckets can never drift
  // between Spark and DuckDB (see Similarity.microQuantize). FULL
  // oracle: DuckDB rebuilds the same planes, signatures, band
  // buckets, candidate union, and (cos DESC, id ASC) top-k cut. ----
  def ann_lsh(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    Similarity.bandedLshTopK(corpus, corpus.filter(col("vec_id") < 10),
        k = 10, nPlanes = 16, bands = 4, dim = 64)
      .orderBy("query_id", "rank")
  }

  // ---- t24: DSIR importance weights (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling") — the
  // hashed-n-gram domain scorer a targeted-pretraining pipeline runs
  // corpus-wide: score(doc) = Σ_b c_b(doc)·(ln p̂_target(b) −
  // ln p̂_raw(b)) over B = 64 hashed unigram buckets, add-one
  // smoothed; docs resembling the target domain (here source='src0',
  // the "curated" slice) score high. Selection by score is t02/p14's
  // machinery; this gate pins the SCORING.
  //
  // Scale shape: the bucket-stats pass is ONE hash-agg whose exchange
  // is B-bounded (64 rows — collected as a bounded artifact, the
  // s03-centroids pattern; at 100 TB the target/raw bucket stats ARE
  // a maintained artifact, refreshed with the corpus); the log-ratio
  // table is 64 driver-computed literals broadcast into a map-side
  // join; scoring shuffles (doc, bucket, count) ≤ B rows per doc.
  //
  // Determinism: the ratio table is quantized to 6dp BEFORE use (a
  // 1-ULP ln() divergence moves a 6dp boundary with probability
  // ~1e-9); each summand is 9dp-rounded and the per-doc fold runs
  // over the SORTED summand list, so both engines fold bit-identical
  // doubles in one order (the t16/t19 discipline); final score 4dp.
  // Bucketing is the md5-position fold (d14/t17 idiom), engine-exact.
  def dsir_weights(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    val tok = docs(s, dir).select(col("doc_id"), col("source"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .withColumn("b",
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % B)
          .cast("int"))
    // ONE tokenize+md5 pass (optimization r18): the hash-bucket stats
    // and the per-doc rollup both consumed `tok` — the per-token md5
    // ran twice. Aggregate to the (doc, source, b) count grain once
    // (≤ B rows per doc; source is constant per doc, so this is the
    // per-doc rollup's own grain) and derive BOTH from it: cr = Σc per
    // b, ct = Σc where src0 — the same integers the instance counts
    // gave.
    reusing(tok.groupBy("doc_id", "source", "b")
        .agg(count(lit(1)).as("c"))) { case Seq(byDocB) =>
      val stats = byDocB.groupBy("b").agg(sum("c").as("cr"),
          sum(when(col("source") === "src0", col("c")).otherwise(0L))
            .as("ct"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val nr = stats.map(_._2).sum
      val nt = stats.map(_._3).sum
      val byB = stats.map(t => t._1 -> (t._2, t._3)).toMap
      val lrRows = (0 until B).map { b =>
        val (cr, ct) = byB.getOrElse(b, (0L, 0L))
        val lr = math.log((ct + 1).toDouble / (nt + B)) -
          math.log((cr + 1).toDouble / (nr + B))
        (b, BigDecimal(lr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }
      import s.implicits._
      val lrDf = lrRows.toDF("b", "lr")
      byDocB.groupBy("doc_id", "b").agg(sum("c").as("c"))
        .join(broadcast(lrDf), Seq("b"))
        .withColumn("sm", round(col("c") * col("lr"), 9))
        .groupBy("doc_id")
        .agg(round(aggregate(sort_array(collect_list(col("sm"))),
          lit(0.0), (a, x) => a + x), 4).as("dsir_score"))
    }.orderBy("doc_id")
  }

  // ---- s15: MULTI-PROBE LSH ANN — the probe-side recall amplifier:
  // full 4-bit SRP cell per corpus vector (16 cells, maximum-precision
  // AND-composition), each query probing its own cell + the 4
  // Hamming-1 neighbors. The index stays 1× (vs s08's ×bands row
  // replication) and the fan-out lives on the bounded query side —
  // the trade a 100-TB index deployment wants. Output = exact top-k
  // OF the probed candidate set (cos DESC, id ASC), deterministic
  // cross-engine via the s08 integer-projection recipe. ----
  def ann_multiprobe(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    Similarity.multiProbeLshTopK(corpus, corpus.filter(col("vec_id") < 10),
        k = 10, nBits = 4, dim = 64)
      .orderBy("query_id", "rank")
  }

  // ---- text analysis ----
  def lang_id(s: SparkSession, dir: String): DataFrame =
    TextFunctions.languageId(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  def quality_score(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id") +: TextFunctions.qualityFeatures(col("text")): _*)
      .orderBy("doc_id")

  def token_count(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id") +: TextFunctions.tokenCounts(col("text")): _*)
      .orderBy("doc_id")

  // ---- t12: unigram language-model scoring — the model-based quality
  // filter of a training-data pipeline (perplexity proxy), engine-sized:
  // the LM is the corpus's own unigram distribution, the score is mean
  // log2 p(token). Two aggregations plus one broadcast join — the
  // "model" (term→logprob) is vocabulary-sized and ships with the task,
  // exactly how a 100-TB run ships its KenLM/fastText scorer. Cross-
  // engine float discipline: each summand is DECIMAL-rounded FIRST
  // (kills 1-ULP libm log drift), then summed by an explicit fold over
  // the SORTED summand list — both engines add identical doubles in
  // identical order, so the sum is bit-reproducible, not just close. ----
  def lm_score(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
    // ONE tokenize pass (optimization r18): total, the term table and
    // the per-doc table all consumed `toks` — the corpus tokenized
    // three times. The (doc, term) count grain determines all three:
    // tf = Σc per term, total = Σc.
    reusing(toks.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("c"))) { case Seq(dt) =>
    val total = dt.agg(sum("c")).first().getLong(0).toDouble
    val tf = dt.groupBy("term").agg(sum("c").as("tf"))
    dt.join(broadcast(tf), "term")
      .withColumn("w",
        round((col("c") * (log2(col("tf")) - log2(lit(total))))
          .cast("decimal(28,10)"), 9).cast("double"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        aggregate(sort_array(collect_list(col("w"))), lit(0.0),
          (acc, x) => acc + x).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round((col("s") / col("n_tokens")).cast("decimal(28,10)"), 4)
          .cast("double").as("lm_score"))
    }.orderBy("doc_id")
  }

  // ---- t13: BIGRAM language-model scoring with add-one smoothing —
  // the next rung of the t12 ladder and the shape of every n-gram
  // perplexity filter (CCNet/KenLM-style): the model is the corpus's
  // own bigram table, P(term|prev) = (c(prev,term)+1)/(c(prev)+V),
  // score = mean log2 P over a doc's bigram instances. Model tables
  // (bigram counts + context counts) are vocabulary-sized → broadcast,
  // exactly how a real run ships its ARPA table. Same cross-engine
  // float discipline as t12: DECIMAL-round each summand, fold the
  // SORTED list, so both engines add identical doubles in identical
  // order. Index-explode for bigrams (the gramRows lambda-scope trap
  // applies to any HOF-built pair array too). ----
  def bigram_lm(s: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE (optimization r19): the vocab scalar pass and the
    // bigram grain both consumed the token projection, re-running the
    // tokenizer per job; the token table is checkpointed (read-side
    // rebalanced, so the one tokenize pass is parallel) and both jobs
    // read it. Freed with the count-grain checkpoint at the next
    // reuse gate.
    drainStaleCheckpoints()
    val t = cpStage(docsSpread(s, dir).select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks")), "token table")
    val bg = t.select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1))).as("__i"))
      .select(col("doc_id"),
        element_at(col("toks"), col("__i")).as("prev"),
        element_at(col("toks"), col("__i") + 1).as("term"))
    // V = unigram vocabulary size — one count-distinct job, the
    // model's single scalar hyperparameter (ships as a literal)
    val vocab = t.select(explode(col("toks")).as("u"))
      .agg(countDistinct("u")).first().getLong(0).toDouble
    // ONE bigram-explode pass (optimization r18): bf, pf and the
    // per-doc table all consumed `bg` — the corpus tokenized and
    // pair-exploded three times. The (doc, prev, term) count grain
    // determines all three model tables: bf = Σc per (prev, term),
    // pf = Σc per prev.
    val out = reusing(bg.groupBy("doc_id", "prev", "term")
        .agg(count(lit(1)).as("c"))) { case Seq(dt) =>
    val bf = dt.groupBy("prev", "term").agg(sum("c").as("bf"))
    val pf = dt.groupBy("prev").agg(sum("c").as("pf"))
    dt.join(broadcast(bf), Seq("prev", "term"))
      .join(broadcast(pf), Seq("prev"))
      .withColumn("w",
        round((col("c") * (log2(col("bf") + 1) - log2(col("pf") + lit(vocab))))
          .cast("decimal(28,10)"), 9).cast("double"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        aggregate(sort_array(collect_list(col("w"))), lit(0.0),
          (acc, x) => acc + x).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("s") / col("n_bigrams")).cast("decimal(28,10)"), 4)
          .cast("double").as("lm2_score"))
    }
    deferFree(t)
    out.orderBy("doc_id")
  }

  // ---- t16: token-distribution Shannon entropy — the diversity
  // signal a quality filter pairs with t08's repetition ratios (low
  // entropy = templated/boilerplate/spam text, high = diverse prose).
  // For a doc with per-term counts c over n tokens,
  // H = Σ (c/n)·log2(n/c) = (Σ c·(log2 n − log2 c)) / n; the inner
  // sum folds ROUNDED summands in SORTED order (the t12 discipline:
  // DECIMAL-round kills 1-ULP libm log drift, the sorted fold makes
  // the float addition order identical in every engine). Shape: one
  // explode + (doc,term) count + per-doc HOF fold over the collected
  // count list — the list is doc-vocabulary-sized (bounded by doc
  // length, never corpus-sized), the shuffle carries counts not text,
  // and there is NO join: n comes from folding the same list. ----
  def token_entropy(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(collect_list(col("c")).as("cs"))
      .withColumn("n_tokens",
        aggregate(col("cs"), lit(0L), (acc, x) => acc + x))
      .withColumn("n_distinct", size(col("cs")).cast("long"))
      .withColumn("s",
        aggregate(
          sort_array(transform(col("cs"), c =>
            round((c * (log2(col("n_tokens")) - log2(c)))
              .cast("decimal(28,10)"), 9).cast("double"))),
          lit(0.0), (acc, x) => acc + x))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round((col("s") / col("n_tokens")).cast("decimal(28,10)"), 4)
          .cast("double").as("entropy"))
      .orderBy("doc_id")
  }

  // ---- t17: Count-Min sketch — the third sketch family (t09 =
  // frequent-items, t10 = KLL quantiles): frequency point-estimates
  // from a k×w counter grid, built as ONE groupBy over (row, md5-
  // derived position) — the grid is k·w rows no matter the corpus
  // size, the mergeable-summary property that lets 1000 executors
  // each sketch a shard and union the grids. Estimates are
  // min_j grid[j][pos_j(term)] for the 20 highest-true-frequency
  // terms; CMS guarantees estimate ≥ truth (collisions only inflate),
  // which the gate output exhibits and the spec asserts. Positions
  // are the d14 Bloom arithmetic (first-8-hex-of-md5 mod w) — fully
  // deterministic, so the DuckDB oracle rebuilds the identical grid.
  // k=4 rows, w=16: deliberately tiny relative to the ~31-term synth
  // vocabulary so collisions actually inflate estimates (the visible
  // error the epsilon = e/w knob controls; a real deployment sizes
  // w ≫ distinct-heavy-hitters). ----
  def cms_estimate(s: SparkSession, dir: String): DataFrame = {
    val (k, w) = (4, 16)
    val terms = docs(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("term").agg(count(lit(1)).as("tf"))
    // the k×w counter grid: one row per (sketch row j, cell) — built
    // from term COUNTS (vocabulary-sized), not term instances
    val grid = tf
      .select(col("tf"),
        posexplode(Dedup.bloomPositions(col("term"), k, w))
          .as(Seq("j", "cell")))
      .groupBy("j", "cell").agg(sum("tf").as("cnt"))
    val top = tf
      .orderBy(col("tf").desc, col("term").asc).limit(20)
      .select(col("term"), col("tf"),
        posexplode(Dedup.bloomPositions(col("term"), k, w))
          .as(Seq("j", "cell")))
    top.join(grid, Seq("j", "cell"))
      .groupBy("term")
      .agg(max("tf").as("true_count"), min("cnt").as("cms_estimate"))
      .orderBy(col("true_count").desc, col("term").asc)
  }

  // ---- t19: per-source Jensen-Shannon divergence from the corpus
  // unigram distribution — the drift diagnostic a mixing pipeline
  // reads next to p04/p07 (a source whose JS spikes is contaminated,
  // mis-crawled, or genre-shifted). JS(p‖q) = ½Σp·log2(p/m) +
  // ½Σq·log2(q/m), m=(p+q)/2, summed over the FULL vocabulary per
  // source (p=0 terms still contribute via q — the grid is
  // sources × vocab, both broadcast-sized). Float discipline: p and
  // q are single IEEE divisions of identical integers (exact-rounded,
  // engine-identical); each term's w is DECIMAL-rounded at 9dp with
  // the multiplication PARENTHESIZED IDENTICALLY in the oracle
  // (0.5·(p·(log2 p − log2 m)) — association changes the last ulp),
  // then the sorted fold and a 4dp final round, the t12 pattern. ----
  def js_divergence(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    val tfs = toks.groupBy("source", "term").agg(count(lit(1)).as("cs"))
    val tfg = toks.groupBy("term").agg(count(lit(1)).as("cg"))
    val totS = toks.groupBy("source").agg(count(lit(1)).as("ns"))
    val totG = toks.count().toDouble
    val grid = totS.crossJoin(broadcast(tfg))
      .join(tfs, Seq("source", "term"), "left")
      .withColumn("p", coalesce(col("cs"), lit(0L)) / col("ns"))
      .withColumn("q", col("cg") / lit(totG))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn("w", round(
        (when(col("p") > 0,
            lit(0.5) * (col("p") * (log2(col("p")) - log2(col("m")))))
          .otherwise(lit(0.0))
          + lit(0.5) * (col("q") * (log2(col("q")) - log2(col("m")))))
          .cast("decimal(28,10)"), 9).cast("double"))
    grid.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(sort_array(collect_list(col("w"))), lit(0.0),
          (acc, x) => acc + x).as("sw"))
      .select(col("source"), col("n_terms"),
        round(col("sw").cast("decimal(28,10)"), 4).cast("double").as("js"))
      .orderBy("source")
  }

  // ---- t14: BPE merge-pair counting — ONE iteration of byte-pair-
  // encoding tokenizer training, engine-shaped: word frequencies come
  // off the corpus once (the shuffle carries (word, count), not
  // text), then character pairs explode over the DISTINCT word table
  // — vocabulary-sized, orders of magnitude below corpus-sized —
  // weighted by word frequency. Top-100 pairs by (weight, pair) is
  // the deterministic merge-candidate list a BPE trainer consumes;
  // the full trainer is this query in a driver loop with a merge
  // table, counts re-derived incrementally. ----
  def bpe_pairs(s: SparkSession, dir: String): DataFrame = {
    val wf = docs(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
    wf.filter(length(col("w")) >= 2)
      .select(col("w"), col("wf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("__i"))
      .select(expr("substr(w, __i, 2)").as("pair"), col("wf"))
      .groupBy("pair").agg(sum("wf").as("weight"))
      .orderBy(col("weight").desc, col("pair").asc)
      .limit(100)
  }

  // ---- t21: the BPE merge LOOP — t14 is one pair-count iteration;
  // this is the trainer: k rounds of count-best-merge over the word
  // table, emitting the merge decisions (the artifact a tokenizer
  // ships). Representation is the whole trick: each word's symbol
  // sequence is a DOUBLE-space-delimited string (" l  o  w "), so
  //  - adjacent-pair extraction is split + index-explode (no HOFs),
  //  - applying a merge is ONE literal string replace per word:
  //    " l  o " → " lo ". Double delimiters make plain left-to-right
  //    non-overlapping replace EQUAL to greedy BPE merging: each
  //    symbol owns its flanking spaces, so consuming a pair never
  //    eats the next occurrence's boundary (single-space delimiters
  //    get " a a a a " wrong), and replace() has identical greedy
  //    semantics in every engine — the oracle replays the merge
  //    rounds with the same replace.
  // Pair weights count EVERY adjacency (overlaps included) and the
  // merge applies greedily — exactly Sennrich's count-then-merge.
  // Tie-break: pair string ASC ("l r"); symbols contain no spaces
  // and space sorts below every token character, so string order
  // equals (lhs, rhs) tuple order in both engines.
  //
  // Scale shape: the corpus is touched ONCE — the word-frequency
  // aggregation is PERSISTED (vocabulary-sized, the one table the
  // trainer iterates on), so each round's top-1 collect re-reads the
  // cache, never the corpus; every round after the first scan is
  // vocabulary-sized — pair explode ∝ Σ|word|, a top-1 aggregate,
  // and a map-side literal replace. The driver holds only the k
  // winning pairs (bounded: k rows). That is the architecture of
  // every production BPE trainer: corpus → word table once, then
  // iterate on the table — and the trained result (merge table +
  // word → symbol-count dictionary) is PERSISTED as the tokenizer
  // ARTIFACT ([[t21BpePath]], the s03-centroids/p02-components
  // contract): t21 reads the merge table back, t23 probes the
  // dictionary instead of re-training. A one-corpus-scan contract
  // spec (PlanContractSpec) pins that no trainer execution reads the
  // documents file outside the single cached relation. ----
  def bpe_merges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${bpeArtifactFor(s, dir)}/merges").orderBy("step")

  /** Where the trained-BPE tokenizer artifact persists, keyed by the
    * SF dir's basename like [[s03CentroidsPath]]: `merges/` is the
    * (step, lhs, rhs, weight) decision table, `dict/` the
    * (w, n_sym, n_char) encode dictionary.
    */
  def t21BpePath(dir: String): String =
    s"/tmp/graft_t21_bpe/${new java.io.File(dir).getName}"

  private val bpeBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Training depth of the persisted tokenizer. Production-shaped:
    * the first cut ran one Spark job PER merge round (fine at k=3,
    * binding at k=10k), so the merge loop is now driver-side over the
    * once-collected word table and k only costs driver microseconds
    * per round — wall is ~flat in k.
    */
  private[graft] val bpeMergeRounds = 64

  /** Unsigned UTF-8 byte order — the collation BOTH engines sort
    * strings by (Spark UTF8String binary compare, DuckDB default
    * binary collation). Java String.compareTo is UTF-16-unit order,
    * which diverges on supplementary characters, so the driver-side
    * tie-break must not use it.
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Initial BPE symbolization: every code point its own symbol,
    * " a  b " form (each symbol owns its flanking spaces, so a
    * merge's replace can't eat a neighbour's boundary).
    */
  private def bpeInitSyms(wf0: Array[(String, Long)]): Array[String] = {
    val syms = new Array[String](wf0.length)
    var wi = 0
    while (wi < wf0.length) {
      val sb = new java.lang.StringBuilder(" ")
      wf0(wi)._1.codePoints().forEach { cp =>
        sb.appendCodePoint(cp); sb.append("  "); ()
      }
      sb.setLength(sb.length - 1) // "  " tail -> " "
      syms(wi) = sb.toString
      wi += 1
    }
    syms
  }

  /** Strip exactly the ONE flanking 0x20 the symbolization
    * constructs — NOT Java String.trim, which strips every char
    * ≤ U+0020 and would corrupt parsing of words whose first/last
    * code point is a control character (SQL trim() in both Spark and
    * DuckDB strips only spaces, so the engines would diverge).
    */
  private def bpeSymbols(sym: String): Array[String] =
    sym.stripPrefix(" ").stripSuffix(" ").split("  ")

  private def bpePairsOf(sym: String): Array[String] = {
    val a = bpeSymbols(sym)
    if (a.length < 2) Array.empty
    else Array.tabulate(a.length - 1)(j => a(j) + " " + a(j + 1))
  }

  /** The driver-side greedy BPE merge loop over a collected
    * (word, frequency) table, with INCREMENTAL pair-count maintenance
    * (the Sennrich-implementation shape): pair weights and the
    * pair→words index are built once, and each merge round updates
    * only the words that CONTAIN the winning pair — per-round cost ∝
    * affected words, not vocabulary size, so a production run
    * (V ≈ 10⁶, k ≈ 50k) pays O(V·len + Σ affected) instead of
    * O(k·V·len). Selection is bit-identical to the full recount (the
    * per-word delta is an exact recount of just that word;
    * [[trainBpeNaive]] stays as the spec's parity reference). Returns
    * the merge decisions and the final per-word symbolizations
    * (index-aligned with `wf0`).
    */
  private[graft] def trainBpe(wf0: Array[(String, Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Array[String]) = {
    val syms = bpeInitSyms(wf0)
    val pairW = scala.collection.mutable.HashMap.empty[String, Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.Set[Int]]
    // LAZY MAX-HEAP over (weight, pair) for best-pair selection
    // (round-14 VERDICT #3): the per-round full scan of pairW was the
    // loop's residual O(k·P) term. Each round pushes ONE entry per
    // TOUCHED pair carrying its end-of-round weight (intermediate
    // per-word deltas never enter the heap); selection pops until the
    // popped weight equals the pair's CURRENT weight — stale entries
    // (superseded weights, consumed pairs) are skipped, and every
    // pushed entry is popped at most once across the whole run, so a
    // round costs O(affected·len · log P) amortized instead of O(P).
    // Invariant making the skip rule sound: after every round, each
    // pair in pairW has a heap entry at its current weight (untouched
    // pairs keep their old entry — popped entries are either selected
    // or provably superseded). Ordering is EXACTLY the scan's
    // selection rule — max weight, ties to the UTF-8-byte-order-
    // smallest pair (the oracle's ORDER BY weight DESC, pair ASC) —
    // so the merge sequence is bit-identical (spec-pinned vs
    // trainBpeNaive on tie-heavy planted vocabs).
    val heapOrd = new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else if (a._2 == b._2) 0
        else if (utf8Lt(a._2, b._2)) 1
        else -1
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String)](heapOrd)
    // pairs whose weight changed this round; null during the initial
    // index build (ONE heapify over the final weights replaces V·len
    // partial-sum pushes)
    var touched: scala.collection.mutable.Set[String] = null
    def addWord(i: Int): Unit = {
      val ps = bpePairsOf(syms(i))
      var j = 0
      while (j < ps.length) {
        pairW.update(ps(j), pairW.getOrElse(ps(j), 0L) + wf0(i)._2)
        if (touched != null) touched += ps(j)
        pairWords.getOrElseUpdate(ps(j),
          scala.collection.mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    def dropWord(i: Int): Unit = {
      val ps = bpePairsOf(syms(i))
      var j = 0
      while (j < ps.length) {
        val nw = pairW(ps(j)) - wf0(i)._2
        if (nw == 0L) pairW.remove(ps(j)) else pairW.update(ps(j), nw)
        if (touched != null) touched += ps(j)
        j += 1
      }
      ps.distinct.foreach { p =>
        pairWords.get(p).foreach { s =>
          s -= i; if (s.isEmpty) pairWords.remove(p)
        }
      }
    }
    var i0 = 0
    while (i0 < syms.length) { addWord(i0); i0 += 1 }
    heap ++= pairW.iterator.map { case (p, w) => (w, p) }
    touched = scala.collection.mutable.Set.empty[String]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to k) {
      // pop to the first LIVE entry: its weight must equal the pair's
      // current weight (a pair whose weight moved since the push has a
      // fresher entry deeper in the heap; a consumed pair has none)
      var bestPair: String = null; var bestW = 0L
      while (bestPair == null && heap.nonEmpty) {
        val (w, p) = heap.dequeue()
        if (pairW.get(p).contains(w)) { bestPair = p; bestW = w }
      }
      if (bestPair != null) {
        val Array(l, r) = bestPair.split(" ", 2)
        merges += ((round, l, r, bestW))
        val from = s" $l  $r "; val to = s" $l$r "
        // only words CONTAINING the winning pair change; snapshot the
        // membership set because dropWord/addWord mutate it
        val affected = pairWords.get(bestPair)
          .map(_.toArray.sorted).getOrElse(Array.empty)
        touched.clear()
        affected.foreach { m =>
          dropWord(m)
          // String.replace: all occurrences, left-to-right, non-
          // overlapping — identical to Spark replace/DuckDB replace
          syms(m) = syms(m).replace(from, to)
          addWord(m)
        }
        // one push per touched pair at its settled weight
        touched.foreach { p =>
          pairW.get(p).foreach(w => heap.enqueue((w, p)))
        }
      }
    }
    (merges.toSeq, syms)
  }

  /** The O(k·V·len) full-recount form of [[trainBpe]] — kept ONLY as
    * the parity reference: the spec replays both on planted vocabs
    * (tie-heavy, overlap-heavy) and the merge sequences must be
    * identical, which is what makes the incremental index a pure
    * optimization rather than a semantic change.
    */
  private[graft] def trainBpeNaive(wf0: Array[(String, Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Array[String]) = {
    val syms = bpeInitSyms(wf0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to k) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < syms.length) {
        val ps = bpePairsOf(syms(i))
        var j = 0
        while (j < ps.length) {
          counts.update(ps(j), counts.getOrElse(ps(j), 0L) + wf0(i)._2)
          j += 1
        }
        i += 1
      }
      if (counts.nonEmpty) {
        var bestPair: String = null; var bestW = Long.MinValue
        counts.foreach { case (pair, w) =>
          if (w > bestW || (w == bestW && utf8Lt(pair, bestPair)))
            { bestPair = pair; bestW = w }
        }
        val Array(l, r) = bestPair.split(" ", 2)
        merges += ((round, l, r, bestW))
        val from = s" $l  $r "; val to = s" $l$r "
        var m = 0
        while (m < syms.length) {
          if (syms(m).contains(from)) syms(m) = syms(m).replace(from, to)
          m += 1
        }
      }
    }
    (merges.toSeq, syms)
  }

  /** Trains the [[bpeMergeRounds]]-round BPE tokenizer ONCE per
    * corpus and persists the artifact. Scale shape (the production-k
    * form): ONE corpus scan collects the word-frequency table — it
    * is vocabulary-bounded, the same contract as the s03 centroid
    * collect — and the entire greedy merge loop runs DRIVER-SIDE
    * over that table, zero Spark jobs per round, so a 10k-merge
    * training run costs one scan plus driver CPU instead of 10k job
    * round-trips. Semantics are unchanged from the k=3 distributed
    * form (spec-pinned): symbols are double-space-delimited so plain
    * left-to-right replace IS the greedy merge; the winning pair is
    * (max weight, then smallest pair in UTF-8 byte order) — the
    * exact `ORDER BY weight DESC, pair ASC LIMIT 1` the oracle runs.
    * The fully-merged word table after round k IS the encode
    * dictionary. Deterministic, so rebuilds overwrite with identical
    * bytes.
    */
  private[queries] def bpeArtifactFor(s: SparkSession, dir: String): String =
    // compute, not computeIfAbsent: if the persisted artifact was
    // deleted since the memo landed (Verify's up-front sweep), a
    // same-JVM re-entry must retrain instead of reading a dead path
    bpeBuilt.compute(dir, (_, prev) => {
      val p = t21BpePath(dir)
      if (prev != null && new java.io.File(s"$p/merges").exists() &&
          new java.io.File(s"$p/dict").exists()) prev
      else {
      val k = bpeMergeRounds
      // the ONE corpus scan; vocabulary-bounded collect (distinct
      // lowercased words — the s03-centroids boundedness contract)
      val wf0 = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val (merges, syms) = trainBpe(wf0, k)
      // fewer than k merges = the vocabulary fully merged (every word
      // one symbol) — training is complete, not broken; ZERO merges
      // (every distinct word a single code point) is the degenerate
      // but consistent case: an empty merges table and a
      // 1-symbol-per-word dict, which the oracle reproduces (its
      // b-CTEs are all empty and the encode chain's left joins keep
      // the symbolization frozen).
      import s.implicits._
      merges.toSeq.toDF("step", "lhs", "rhs", "weight")
        .select(col("step").cast("int"), col("lhs"), col("rhs"),
          col("weight"))
        .coalesce(1).write.mode("overwrite").parquet(s"$p/merges")
      wf0.indices.map { i =>
        val w = wf0(i)._1
        (w, bpeSymbols(syms(i)).length.toLong,
          w.codePointCount(0, w.length).toLong)
      }.toDF("w", "n_sym", "n_char")
        .write.mode("overwrite").parquet(s"$p/dict")
      p
      }
    })

  // ---- t23: APPLY the learned tokenizer — the other half of t21,
  // and the op a data pipeline actually runs corpus-wide: per-doc
  // token counts under the TRAINED merges (t03 counts whitespace
  // words; budget math, packing, and curriculum all need the
  // post-BPE count). The merges are applied to the DISTINCT word
  // table (vocabulary-sized, the tokenizer-application contract:
  // encode the vocab once, join counts back). The dictionary is the
  // PERSISTED tokenizer artifact ([[bpeArtifactFor]] `dict/` —
  // trained once, shared with t21, never re-learned here), and the
  // encode pass is exactly the 100-TB shape: one corpus scan + one
  // broadcast dictionary join, nothing else. ----
  def bpe_encode(s: SparkSession, dir: String): DataFrame = {
    val dict = s.read.parquet(s"${bpeArtifactFor(s, dir)}/dict")
    val tok = docs(s, dir).select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("w"))
    tok.join(broadcast(dict), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_char").as("n_chars"),
        sum("n_sym").as("n_tokens"))
      .orderBy("doc_id")
  }

  // ---- t25: tokenizer COMPRESSION-RATIO eval — the metric a
  // tokenizer team tracks per source before adopting a vocabulary:
  // chars-per-token under the TRAINED merges, per source (a source
  // whose ratio stays ≈1 is one the tokenizer fails to compress —
  // wrong language, binary junk, or vocabulary mismatch). Integer
  // output (sum_chars, sum_tokens per source; the division is the
  // reader's) so the gate hash-compares exactly. Probes the SAME
  // persisted dict artifact t23 encodes with ([[bpeArtifactFor]]) —
  // train once (t21), apply (t23), evaluate (t25); the oracle reads
  // the artifact parquet back (the d11/p12 artifact-probing pattern),
  // so a drifted or stale dict fails the gate. One corpus scan + one
  // broadcast dictionary join + one 20-row aggregate — the eval is
  // free at any scale. ----
  def bpe_compression(s: SparkSession, dir: String): DataFrame = {
    val dict = s.read.parquet(s"${bpeArtifactFor(s, dir)}/dict")
    docs(s, dir).select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .join(broadcast(dict), Seq("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("n_char").as("sum_chars"),
        sum("n_sym").as("sum_tokens"))
      .orderBy("source")
  }

  /** Pinned path of the t26 synthetic-vocabulary corpus fixture —
    * read back by the DuckDB oracle as a literal parquet path (the
    * s03-centroids pattern), so it must not move.
    */
  def t26CorpusPath: String = "/tmp/graft_t26_corpus"

  private val t26Built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Builds (once per JVM; deterministic bytes, so rebuilds overwrite
    * identically) the REALISTIC-VOCABULARY corpus the sf tables can't
    * provide: the synthetic testdata draws from ~31 words, so
    * t21/t23/t25 exercise the train→encode→compress chain at toy
    * dictionary size (round-14 VERDICT #6). This fixture packs 12,200
    * DISTINCT 5-char words (the bpek generator's base-26 scheme —
    * little-endian digits of 26⁴+j, length-uniform so all are exactly
    * 5 chars and pairwise distinct) into 200 docs, with the first 13
    * words re-appended per doc (i mod 13 copies) so pair weights are
    * zipf-ish rather than all-ties. Training at the production
    * k = [[bpeMergeRounds]] then runs against a ≥10k-entry vocabulary
    * and does NOT exhaust — the regime the toy gates can't reach.
    */
  private def t26CorpusFor(s: SparkSession): String =
    t26Built.compute("corpus", (_, prev) => {
      val p = t26CorpusPath
      if (prev != null &&
          new java.io.File(s"$p/documents.parquet").exists()) prev
      else {
        val words: IndexedSeq[String] = (0 until 12200).map { j =>
          val sb = new java.lang.StringBuilder
          var x = j + 26 * 26 * 26 * 26
          while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
          sb.toString
        }
        val rows = (0 until 200).map { i =>
          val ws = (0 until 61).map(r => words(i + 200 * r)) ++
            (0 until i % 13).map(words)
          val text = ws.mkString(" ")
          (i.toLong, text, "en", "src" + (i % 4), text.length.toLong)
        }
        import s.implicits._
        rows.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite").parquet(s"$p/documents.parquet")
        p
      }
    })

  // ---- t26: the t23 encode chain at a REALISTIC dictionary — same
  // train-once artifact ([[bpeArtifactFor]], keyed by the fixture
  // dir), same one-scan + broadcast-dict-join encode, same per-doc
  // integer output; only the corpus differs: ≥10k distinct words, so
  // the k=64 trainer runs un-exhausted and the broadcast join carries
  // a five-figure dictionary. The oracle replays the full k-round
  // greedy-merge CTE cascade over the SAME fixture parquet (read by
  // literal path), making the production-size training run
  // cross-engine-verified, not just spec-pinned. ----
  def bpe_encode_large(s: SparkSession, dir: String): DataFrame =
    // t23's encode chain verbatim, pointed at the fixture corpus —
    // delegation, not a copy, so the chains can never diverge
    bpe_encode(s, t26CorpusFor(s))

  // ---- t22: cross-source overlap matrix via THETA-SKETCH
  // INTERSECTION — the no-join answer to "how much passage-level
  // duplication exists BETWEEN every pair of sources?" (the question
  // a data-mix owner asks before weighting sources; pairwise
  // raw-content joins are quadratic in corpus and never run at
  // 100 TB). One corpus scan builds a per-source theta sketch of the
  // distinct 8-token window hashes (the t18/d10 window machinery);
  // every pairwise overlap is then ONE native sketch intersection
  // over the sources × sources dictionary cross (the t19/p14
  // boundedness argument — tens × tens of KB-sized sketch payloads).
  //
  // Why theta and not the r26 HLL machinery: HLL only unions, so the
  // matrix needs inclusion–exclusion, and HLL coupons truncate the
  // value hash to ~26 bits — the FIRST cut of this gate measured one
  // coupon collision among 20 sources × ~1.3k windows, leaving a
  // zero-overlap pair estimated at 1. Theta keeps full 64-bit hashes
  // and intersects natively: below the nominal-entries threshold
  // (lgNom=14 → 16k ≫ the ~1.4k per-source cardinality here) θ = 1,
  // nothing is sampled, and the estimate is EXACT — so DuckDB's
  // exact pairwise-intersection matrix (zeros included) is a full
  // hash oracle. At deployment scale the same query degrades
  // gracefully to ~1/√k relative error instead of refusing to run;
  // the sketch table is the per-source artifact an ingest pipeline
  // maintains incrementally (sketches union, so a new batch folds in
  // map-side). ----
  def source_overlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val n = 8
    val t = docs(s, dir).select(col("source"),
      TextFunctions.tokens(col("text")).as("toks"))
    val w = t.select(col("source"), col("toks"),
        explode(when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))).as("__i"))
      .select(col("source"),
        md5(array_join(slice(col("toks"), col("__i"), lit(n)), " ")).as("h"))
    // ONE distributed aggregation produces the per-source sketch
    // artifact; the matrix itself is driver-side arithmetic over it
    // (the s03-centroids/g12-union-find pattern). The artifact is
    // bounded by sources × the sketch's nominal cap (~sources ×
    // 128 KB, corpus-independent), while the first cut's in-plan
    // self-join paid the final sketch aggregation once per join side
    // and AQE re-read the partial-sketch exchange ~18× (measured
    // 340 MB shuffle read for a 190-row matrix at M=10).
    val sk: Array[(String, Array[Byte])] = w.groupBy("source")
      .agg(ColumnBridge.column(graft.functions.ThetaSketchAgg(
          ColumnBridge.expression(col("h")), lgNomEntries = 14)
        .toAggregateExpression()).as("h_sketch"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val rows = for {
      (sa, ba) <- sk.toSeq
      (sb, bb) <- sk.toSeq
      if sa < sb
    } yield (sa, sb, graft.functions.ThetaIntersectEst.estimate(ba, bb))
    import s.implicits._
    rows.toDF("src_a", "src_b", "overlap").orderBy("src_a", "src_b")
  }

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  // ---- composed training-data pipeline: language filter → quality
  // filter → exact dedup, as one plan. The filters run before the
  // dedup shuffle (hash-groupBy carries only (md5, doc_id) of
  // surviving docs) — at 100 TB the cheap map-side filters cut the
  // shuffle to the kept-language/quality fraction. Thresholds compare
  // the DECIMAL-rounded score, so both engines filter identical
  // values (t02 proves the rounded scores hash-match). ----
  def clean_corpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lang = TextFunctions.languageId(d, "doc_id", "text")
    val quality = d.select(col("doc_id") +:
      TextFunctions.qualityFeatures(col("text")): _*)
      .select("doc_id", "quality_score")
    d.select("doc_id", "text")
      .join(lang, "doc_id")
      .join(quality, "doc_id")
      .filter(col("pred_lang") === "en" && col("quality_score") >= 0.42)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .select("keep_id", "dups")
      .orderBy("keep_id")
  }

  // ---- near-dup GROUP resolution: d04's verified pairs folded into
  // connected components (min-id representative per duplicate
  // cluster) — the step that turns pairwise detectors into "keep one
  // per group". Pointer-jumping label propagation: O(log diameter)
  // hash-join rounds even on the chain-shaped graphs the ±window
  // detector produces. Full oracle via DuckDB recursive CTE. ----
  def neardup_groups(s: SparkSession, dir: String): DataFrame =
    componentsFor(s, dir).orderBy("doc_id")

  /** Where the near-dup component map persists, keyed by the SF dir's
    * basename like [[s03CentroidsPath]]; the policy-gate oracles read
    * the sf0.01 instance (the driver's verify SF).
    */
  def p02ComponentsPath(dir: String): String =
    s"/tmp/graft_p02_components/${new java.io.File(dir).getName}"

  private val ccBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The PERSISTED (doc_id, comp) near-dup component map — the
    * s03-centroids contract applied to clustering: connected
    * components over the verified-Jaccard pair graph are an
    * INDEX-BUILD product, computed once per corpus (the measured
    * pointer-jumping path, `Dedup.scala`) and persisted as a parquet
    * table that every dedup-POLICY operator (d11 keep-best, p12
    * soft-dedup, p13 group split, g10 histogram) probes instead of
    * re-deriving — at 100 TB the component map IS a table, refreshed
    * at ingest cadence, not recomputed inside every policy query
    * (previously each of the five CC-dependent gates re-ran the ~3.5 s
    * CC independently — ~14 s of redundant build work per bench pass).
    * The DuckDB oracles for the policy gates read the SAME parquet
    * back; p02 stays the build-path gate whose oracle re-derives CC
    * relationally (recursive reach), validating the artifact content
    * end-to-end. `computeIfAbsent` blocks concurrent callers until the
    * write lands, and CC output is deterministic, so rebuilds
    * (`--twice`, new JVMs) overwrite with identical bytes.
    */
  private[queries] def componentsFor(s: SparkSession, dir: String): DataFrame = {
    val path = ccBuilt.computeIfAbsent(dir, _ => {
      val p = p02ComponentsPath(dir)
      Dedup.connectedComponents(jaccardPairsRaw(s, dir))
        .select(col("id").as("doc_id"), col("comp"))
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  // ---- d11: near-dup cluster representative election ("fuzzy dedup,
  // keep the best copy") — the step a curation pipeline runs AFTER
  // near-dup clustering: within each connected component of the
  // verified-Jaccard graph keep exactly ONE document — the highest
  // t02 quality score, ties to the smallest doc_id; docs outside any
  // pair are their own component and keep themselves. The election is
  // one aggregation — max(struct(qi, -doc_id)) per component, the
  // LPA argmax trick: no window, no per-component sort, and qi is the
  // integer-quantized score (floor(q·10⁴ + ½) on the 4dp-rounded
  // value, the microQuantize discipline), so the argmax is
  // bit-deterministic in any engine. Scale: the component map is the
  // PERSISTED [[componentsFor]] artifact (probe, not rebuild);
  // scoring is map-only; election + re-join shuffle on comp reuses
  // one partitioning. ----
  def neardup_keep_best(s: SparkSession, dir: String): DataFrame = {
    val cc = componentsFor(s, dir)
    val scored = docs(s, dir)
      .select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 1e4 + lit(0.5))
          .cast("long").as("qi"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
    val elected = scored.groupBy("comp")
      .agg(max(struct(col("qi").as("q"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("comp"), (-col("w.nid")).as("kept_doc"))
    scored.join(elected, "comp")
      .select(col("doc_id"), col("comp"), col("kept_doc"),
        (col("doc_id") === col("kept_doc")).as("kept"))
      .orderBy("doc_id")
  }

  // ---- p12: soft dedup — probabilistic duplicate DOWNWEIGHTING, the
  // alternative to d11's hard keep-one: each doc survives with
  // probability 1/|its near-dup component| (expected ONE survivor per
  // cluster, unbiased across the cluster — what a pipeline uses when
  // it wants duplicate MASS reduced without always privileging the
  // same representative). The coin is md5-derived and INTEGER-exact:
  // u32 = first 8 md5 hex digits of the doc id as an integer, keep
  // iff u32 · |comp| < 2³², so both engines decide every coin
  // identically with no float division anywhere. ----
  def soft_dedup(s: SparkSession, dir: String): DataFrame = {
    val cc = componentsFor(s, dir)
    val all = docs(s, dir).select("doc_id").join(cc, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
    val sized = all.groupBy("comp").agg(count(lit(1)).as("csize"))
    all.join(sized, "comp")
      .withColumn("u32",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("kept", col("u32") * col("csize") < lit(4294967296L))
      .select("doc_id", "comp", "csize", "kept")
      .orderBy("doc_id")
  }

  // ---- d14: Bloom-filter dedup PRE-FILTER — the incremental-ingest
  // pattern: an existing corpus (even doc_ids) is summarized as a
  // deterministic Bloom bit set (k=4 md5-derived positions, m=1024),
  // a new batch (odd doc_ids) probes it, and ONLY bloom-positive docs
  // pay the exact content-hash verify. The bit set is a ≤m-row
  // relation REGARDLESS of corpus size — broadcast, so the probe is
  // map-side; the exact verify's join input is cut to the
  // bloom-positive fraction (true dups + the m-controlled FP rate).
  // m=1024 is deliberately small so the gate exercises real false
  // positives at sf0.01 and visible saturation at sf0.1 — the knob a
  // deployment sizes as ~10 bits/doc. Every position is integer-exact
  // md5 arithmetic: the oracle replays bit-for-bit. ----
  def bloom_prefilter(s: SparkSession, dir: String): DataFrame = {
    val (k, m) = (4, 1024)
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    val bits = corpus
      .select(explode(Dedup.bloomPositions(col("text"), k, m)).as("bit"))
      .distinct().withColumn("__set", lit(1))
    val maybe = batch
      .select(col("doc_id"),
        explode(Dedup.bloomPositions(col("text"), k, m)).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy("doc_id")
      .agg((count(col("__set")) === k).as("maybe_dup"))
    // exact verify ONLY on bloom-positive docs — the whole point of
    // the pre-filter; bloom has no false negatives, so is_dup is
    // complete despite the filter
    val corpusHashes = corpus.select(md5(col("text")).as("h")).distinct()
      .withColumn("__hit", lit(1))
    val verified = batch.join(maybe.filter(col("maybe_dup")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHashes, Seq("h"), "left")
      .groupBy("doc_id").agg((count(col("__hit")) > 0).as("__dup"))
    maybe.join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  // ---- p13: leakage-free train/val/test split — assignment is by
  // NEAR-DUP COMPONENT, not by document: every near-duplicate of a
  // training doc lands in the SAME split, closing the contamination
  // channel a doc-level random split leaves open (eval paraphrases of
  // train docs). The coin is p12's integer-exact md5 form, thrown on
  // the COMPONENT id so the whole cluster moves together:
  // u32 < floor(0.90·2³²) → train, < floor(0.95·2³²) → val, else
  // test — no float division, the same docs land in the same split in
  // any engine, on any cluster size, on any run. The component map is
  // the persisted [[componentsFor]] artifact; the coin + CASE are
  // map-only on top of the component frame. ----
  def group_split(s: SparkSession, dir: String): DataFrame = {
    val cc = componentsFor(s, dir)
    docs(s, dir).select("doc_id").join(cc, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .withColumn("u32",
        conv(substring(md5(col("comp").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("split",
        when(col("u32") < lit(3865470566L), "train")
          .when(col("u32") < lit(4080218931L), "val")
          .otherwise("test"))
      .select("doc_id", "comp", "split")
      .orderBy("doc_id")
  }

  // ---- g08: two-hop neighborhood size over the near-dup graph — the
  // "cluster halo" signal (how much structure sits within distance 2
  // of each doc; curation uses it to spot template families whose
  // members don't all pairwise-match). One self-join on the symmetric
  // edge list + distinct + count. Scale: the join is Σ deg² — on a
  // power-law graph that term is hub-dominated, so at 100 TB the
  // standard guard applies (cap or sample hub adjacency, exactly the
  // Triangles degree-orientation trick); the ±window detector's
  // bounded degrees keep the gate instance skew-free, and the shuffle
  // carries only (id, id) pairs. ----
  /** Run a graph operator over the near-dup pair list with the pair
    * DETECTOR evaluated exactly once (optimization r18). The wedge /
    * triangle shapes reference their edge input several times (the
    * symmetric union alone doubles it; the self-join doubles it
    * again), and an opaque-expression detector subtree gets no CSE —
    * g08 re-ran the full candidate+verify pipeline 4×, g11 6×, for
    * identical output. The edge list itself is tiny ((long, long)
    * rows), so: checkpoint it eagerly, materialize the operator's
    * (small) result eagerly, free the edge checkpoint before
    * returning — the LabelProp no-leak discipline. At 100 TB this is
    * exactly "materialize the detector output once, run graph ops
    * over the edge TABLE" — nobody re-runs a corpus-scale detector
    * per wedge join.
    */
  private def withPairsOnce(pairs: => DataFrame)(
      op: DataFrame => DataFrame): DataFrame = {
    drainStaleCheckpoints()
    val cp = cpStage(pairs, "pair detector")
    val out = op(cp)
    deferFree(cp)
    out
  }

  def twohop(s: SparkSession, dir: String): DataFrame =
    withPairsOnce(jaccardPairsRaw(s, dir))(graft.graph.TwoHop.reach2(_))
      .orderBy("node_id")

  // ---- g11: the SKEW-GUARDED two-hop — identical semantics to g08
  // via [[graft.graph.TwoHop]]'s hub-salted wedge join, run with a
  // cap low enough (8) that the gate corpus HAS hot nodes, so the
  // salted path (broadcast hot set, arrive-side hash salt,
  // depart-side replicate, salted equi-join) is exercised and
  // hash-compared against g08's oracle verbatim. The guard exists for
  // the wedge join's output-explosion skew — a degree-D hub expands
  // D² rows through ONE task, invisible to AQE because the hub's
  // shuffle INPUT is tiny — and the skewed-graph rehearsal leg
  // (SCALE.md graph mode) measures the max-task-time bound it buys.
  def twohop_guarded(s: SparkSession, dir: String): DataFrame =
    withPairsOnce(jaccardPairsRaw(s, dir))(
      graft.graph.TwoHop.reach2(_, degreeCap = 8, buckets = 4))
      .orderBy("node_id")

  // ---- triangle census over the near-dup pair graph: triples of
  // MUTUALLY near-duplicate docs (d04's verified edges). Degree-
  // oriented wedge join — candidate rows bounded by m^1.5 regardless
  // of hub degrees; see graph.Triangles. Full relational oracle. ----
  def neardup_triangles(s: SparkSession, dir: String): DataFrame =
    withPairsOnce(jaccardPairsRaw(s, dir))(
      graft.graph.Triangles.summary(_, "id_a", "id_b"))

  // ---- g06: label-propagation communities over the near-dup graph —
  // the curation clustering CC is too coarse for (CC merges anything
  // reachable; LPA keeps weakly-bridged clusters apart). EXACTLY 3
  // synchronized rounds, most-frequent-neighbor-label with ties to
  // the smallest — fully deterministic, so the oracle unrolls the
  // same 3 rounds relationally. ----
  def label_prop(s: SparkSession, dir: String): DataFrame = {
    drainStaleCheckpoints()
    val lp = graft.graph.LabelProp.run(jaccardPairsRaw(s, dir), iterations = 3)
    deferFree(lp) // run's eager output checkpoint — freed at the next gate
    lp.select(col("id").as("doc_id"), col("lbl").as("community"))
      .orderBy("doc_id")
  }

  // ---- g09: community-quality scoring — Newman MODULARITY of the
  // g06 LPA partition over the near-dup graph, the number a curation
  // pipeline reads before trusting cluster-level actions (low Q =
  // the communities are noise). INTEGER-EXACT: Q = Σ_c [L_c/m −
  // (d_c/2m)²] is reported as the per-community contribution scaled
  // by 4m² — contrib = 4·m·L_c − d_c², all BIGINT arithmetic, no
  // float anywhere (Q itself = Σ contrib / 4m², recoverable to full
  // precision by the caller). Shape: the LPA rounds are the measured
  // fixed-round path; on top sit two id-only joins (label each pair
  // endpoint, label each degree row) and two aggregations — shuffle
  // carries (id, label, counts), never text; m ships as a literal
  // like t13's vocabulary scalar. ----
  def modularity(s: SparkSession, dir: String): DataFrame = {
    // ONE evaluation of the pair detector (optimization r18): the
    // lazy form re-ran the candidate+verify join FOUR times (LabelProp
    // input, m = count, the degree table, the intra join) — ~4× the
    // gate's map work for identical output. Checkpoint the (id_a,
    // id_b) edge list once (pairs-sized, kilobytes per thousand docs),
    // materialize the tiny community rollup eagerly, free the
    // checkpoint before returning (the LabelProp no-leak discipline).
    drainStaleCheckpoints()
    val pairs = cpStage(jaccardPairsRaw(s, dir), "pair detector")
    val labels = graft.graph.LabelProp.run(pairs, iterations = 3)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b"), col("id_a")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val m = pairs.count()
    val lab = labels.select(col("id"), col("lbl"))
    val intra = pairs
      .join(lab.select(col("id").as("id_a"), col("lbl").as("la")), Seq("id_a"))
      .join(lab.select(col("id").as("id_b"), col("lbl").as("lb")), Seq("id_b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degc = lab.join(deg, col("id") === col("src"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
    val out = degc.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .withColumn("contrib_x4m2",
        lit(4L) * lit(m) * col("intra_edges")
          - col("degree_sum") * col("degree_sum"))
      .select("community", "n_nodes", "intra_edges", "degree_sum",
        "contrib_x4m2")
    deferFree(pairs)
    deferFree(labels) // LabelProp.run's eager output checkpoint
    out.orderBy("community")
  }

  // ---- g10: duplicate-cluster SIZE HISTOGRAM — the curation report
  // read before choosing a dedup policy: how much document mass sits
  // in clusters of each size (singletons = unique mass; a fat tail =
  // template families where keep-one vs downweight matters). Two
  // aggregations over the p02 component frame — (comp → size) then
  // (size → clusters, docs) — shuffle carries ids and counts only.
  // Integer-only output; the oracle reads the same persisted
  // component-map parquet as d11/p12/p13. ----
  def cluster_histogram(s: SparkSession, dir: String): DataFrame = {
    val cc = componentsFor(s, dir)
    docs(s, dir).select("doc_id").join(cc, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .groupBy("comp").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("csize")).as("n_docs"))
      .select(col("csize"), col("n_clusters"), col("n_docs"))
      .orderBy("csize")
  }

  // ---- g12: INCREMENTAL component-map maintenance — the answer to
  // "the component map is a persisted table, refreshed at ingest
  // cadence" ([[componentsFor]]): HOW is it refreshed when a new
  // batch of near-dup edges arrives, without re-running corpus-wide
  // CC? Here the batch is a SECOND detector's pass — d06's
  // containment pairs (overlap ≥ 0.9 catches subset duplicates the
  // symmetric-Jaccard detector structurally under-scores) — feeding
  // the SAME shared component map: multi-detector fusion, the shape
  // a production dedup service runs per detector per ingest batch.
  //
  // The update never touches corpus-scale CC:
  //  1. project each new edge into component space through the
  //     persisted map (one equi-join against the map table — at
  //     100 TB both sides are bucketed by doc_id, so this is the
  //     co-located probe, batch-sized);
  //  2. the distinct cross-component edges are BOUNDED by the
  //     batch's pair count (the per-pass ingest contract — here 897
  //     edges over ~5.3k containment pairs at sf0.01), so they
  //     collect to the driver and a union-find with union-by-min
  //     merges them — root = min label of the merged group, which
  //     equals full CC's min-doc-id labels because every old label
  //     is already its component's min. The result is independent
  //     of edge-collect order (final find() depends only on the
  //     connected groups), so `--twice` determinism holds;
  //  3. the merge map (only labels that CHANGE) broadcasts back and
  //     the corpus-size remap is map-side — cost ∝ map size, zero
  //     shuffles beyond the batch-sized probe join.
  //
  // The oracle is the hard part and the point: DuckDB recomputes CC
  // FROM SCRATCH over the UNION edge set (Jaccard ∪ containment)
  // with the recursive-reach CTE — proving incremental maintenance
  // equals full recompute, doc for doc, label for label. ----
  def incremental_components(s: SparkSession, dir: String): DataFrame = {
    val oldMap = componentsFor(s, dir)
    val newE = containmentPairsRaw(s, dir)
    val projected = newE
      .join(oldMap.select(col("doc_id").as("id_a"), col("comp").as("ca")),
        Seq("id_a"), "left")
      .join(oldMap.select(col("doc_id").as("id_b"), col("comp").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("pa"),
        coalesce(col("cb"), col("id_b")).as("pb"))
      .filter(col("pa") =!= col("pb"))
      .distinct()
    // bounded: ≤ the new batch's pair count (ingest contract)
    val compEdges = projected.collect().map(r => (r.getLong(0), r.getLong(1)))
    val merge = unionFindMin(compEdges)
    import s.implicits._
    val mergeDf = broadcast(merge.toSeq.toDF("comp", "new_comp"))
    val newDocs = newE.select(col("id_a").as("doc_id"))
      .union(newE.select(col("id_b").as("doc_id"))).distinct()
    val universe = oldMap.unionByName(
      newDocs.join(oldMap, Seq("doc_id"), "left_anti")
        .withColumn("comp", col("doc_id")))
    universe.join(mergeDf, Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("new_comp"), col("comp")).as("comp"))
      .orderBy("doc_id")
  }

  /** Union-find with union-by-min over component-label edges: the
    * root of every group is its MINIMUM label, so relabeling through
    * the result reproduces full CC's min-id labels (each input label
    * is already the min doc_id of its own component). Returns only
    * the labels that change. Driver-side by design — the edge set is
    * batch-bounded, never corpus-bounded (see g12).
    */
  private def unionFindMin(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(k => k -> find(k)).filter(p => p._1 != p._2).toMap
  }

  // ---- g07: k-core peeling over the near-dup graph — the degeneracy
  // filter (drop nodes that can't sustain k connections once their
  // weak neighbors peel; what survives 3 synchronized rounds of the
  // k=2 peel is the densely-duplicated cluster structure curation
  // acts on). Deterministic by fixed rounds, so the oracle unrolls
  // the same 3 rounds relationally. ----
  def kcore(s: SparkSession, dir: String): DataFrame = {
    drainStaleCheckpoints()
    val kc = graft.graph.KCore.peel(jaccardPairsRaw(s, dir), k = 2, rounds = 3)
    deferFree(kc) // peel's eager output checkpoint — freed at the next gate
    kc.orderBy("node_id")
  }

  // ---- token-budget shard packing: cleaned docs → fixed-budget
  // training shards, greedily in doc_id order within each language.
  // One window per (lang) group — running sum and shard id share a
  // single sort, the group key is the parallelism (at 100 TB you pack
  // per (source, date-bucket)). ----
  def shard_pack(s: SparkSession, dir: String): DataFrame =
    Packing.packByTokenBudget(
        docs(s, dir).select(col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", budget = 2048L)
      .select("doc_id", "lang", "n_tokens", "cum_tokens", "shard_id")
      .orderBy("lang", "doc_id")

  // ---- p16: CONCAT-AND-CHUNK packing — the example-boundary map of
  // GPT-style pretraining packing, the op p03 (doc-granular shards)
  // and p09 (per-doc chunks) deliberately are not: within each lang
  // group the docs concatenate in doc_id order into one token stream,
  // and fixed C = 128-token EXAMPLES slice that stream ACROSS
  // document boundaries. Output is the per-doc placement — byte-store
  // offset and the first/last example the doc's tokens land in — the
  // table a training loader joins to locate any doc inside the packed
  // examples (and a contamination audit joins the other way). The
  // final partial example is emitted, not dropped: padding policy
  // belongs to the loader; the boundary map must be total.
  //
  // Scale shape: one running-sum window PARTITIONED by group (lang) —
  // no global sort anywhere; at 100 TB the group key is the shard key
  // and each partition's prefix-sum is independent. Everything after
  // the window is map-side integer division. All-integer output, so
  // the oracle replays it exactly. ----
  def concat_chunk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val C = 128
    val t = docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t.withColumn("start_off", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $C").as("first_example"),
        expr(s"(start_off + n_tokens - 1) div $C").as("last_example"))
      .orderBy("lang", "doc_id")
  }

  // ---- p19: the SCALE-SAFE concat-and-chunk — p16's semantics with
  // the per-lang window two-leveled, the same pairing p11 is to p08:
  // the running token offset is a prefix SUM (associative), so it
  // splits into (1) per-(lang, bucket) token totals, windowed into
  // per-bucket offsets over a BOUNDED frame (≤ langs × buckets rows,
  // broadcast back), and (2) a running sum WITHIN (lang, bucket) —
  // no reducer ever sees more than one bucket's slice. The bucket is
  // a contiguous doc_id block (doc_id div 64), i.e. a PREFIX of the
  // doc_id sort order, so (bucket, doc_id) order ≡ doc_id order and
  // the offsets are EXACTLY p16's — the gate's oracle is p16's own
  // single-level SQL, making the equivalence a cross-engine-verified
  // fact, not an argument. At 100 TB the bucket is the ingest
  // file/shard id; the windowskew rehearsal carries the measured
  // max-task bound (SCALE.md round 14). ----
  def concat_chunk_scale(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val C = 128
    val t = docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bkt", expr("doc_id div 64"))
    val off = t.groupBy("lang", "bkt").agg(sum("n_tokens").as("tok"))
      .withColumn("off", coalesce(
        sum("tok").over(Window.partitionBy("lang").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bkt", "off")
    t.join(broadcast(off), Seq("lang", "bkt"))
      .withColumn("start_off",
        sum("n_tokens").over(Window.partitionBy("lang", "bkt")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0))
          + col("off") - col("n_tokens"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $C").as("first_example"),
        expr(s"(start_off + n_tokens - 1) div $C").as("last_example"))
      .orderBy("lang", "doc_id")
  }

  // ---- p17: source-stratified epoch INTERLEAVE key — the
  // deterministic global training order that round-robins sources
  // (src0's 1st doc, src1's 1st, …, src0's 2nd, …) so no training
  // window sees a single-source run, computed WITHOUT any global
  // sort: a per-source rank (window partitioned by source, ordered
  // by the md5 of the doc id — the deterministic within-source
  // "shuffle", regenerable in any engine) and then
  // key = (rank−1)·|sources| + source_idx, map-side. Consumers sort
  // or bucket by the KEY at read time; with unequal source sizes the
  // key space has gaps once short sources exhaust — it is an ORDER
  // key, not a dense index, and the round-robin property holds for
  // the prefix where all sources remain live. The source dictionary
  // is a bounded collect (the s03 pattern) broadcast back as the
  // index map.
  //
  // The per-source rank is TWO-LEVEL (the p11 bucketed-rank form):
  // `source` is a handful of fixed values — it IS the stratification
  // key, so there is no finer-key escape hatch — and a single-level
  // row_number over it would rank the largest source's entire row
  // set in ONE reducer at 100×. Instead rank within
  // (source, md5-prefix bucket) in parallel, then add the broadcast
  // per-(source, bucket) cumulative offset (≤ |sources|×256 rows).
  // Because the bucket is a PREFIX of the md5 sort key,
  // (bucket, md5) order ≡ md5 order, so the two-level ranks equal
  // the single-level per-source row_number exactly — but no reducer
  // ever sees more than ~N/(|sources|·256) rows. ----
  def epoch_interleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcs = docs(s, dir).select("source").distinct()
      // bounded: source dictionary. Sorted in UTF-8 byte order (NOT
      // Scala .sorted = UTF-16 unit order) — the oracle's ORDER BY
      // source is DuckDB's binary collation, and the two diverge on
      // supplementary-plane names (the utf8Lt trap, applied here too)
      .collect().map(_.getString(0)).sortWith(utf8Lt)
    val n = srcs.length
    import s.implicits._
    val idx = srcs.zipWithIndex.toSeq.toDF("source", "src_idx")
    val keyed = docs(s, dir).select(col("doc_id"), col("source"))
      .withColumn("mk", md5(col("doc_id").cast("string")))
      .withColumn("bkt", substring(col("mk"), 1, 2))
    // per-(source, bucket) offsets: bounded frame, window over it is
    // driver-trivial; broadcast back for the map-side add
    val off = keyed.groupBy("source", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.partitionBy("source").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("bkt"), col("off"))
    keyed.join(broadcast(off), Seq("source", "bkt"))
      .withColumn("src_rank",
        row_number().over(Window.partitionBy("source", "bkt")
          .orderBy(col("mk"), col("doc_id"))).cast("long") + col("off"))
      .join(broadcast(idx), Seq("source"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        ((col("src_rank") - 1) * n + col("src_idx")).as("interleave_key"))
      .orderBy("doc_id")
  }

  // ---- p15: per-shard MANIFEST — the data-card/lineage artifact a
  // production pipeline writes NEXT TO every training shard: what's
  // in it (doc/token counts, source diversity, id range) and a
  // content checksum that makes any later reshuffle, dropped doc, or
  // re-pack detectable without re-reading the shard. Built on p03's
  // exact packing; one hash-agg at (lang, shard) grain on top. The
  // checksum is md5 over the SORTED doc-id list — order-canonical,
  // so it is stable across partitionings and engines (the lineage
  // property: equal membership ⟺ equal checksum), and the id arrays
  // are shard-bounded (budget/min-doc-tokens docs), never
  // corpus-sized. ----
  def shard_manifest(s: SparkSession, dir: String): DataFrame =
    Packing.packByTokenBudget(
        docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", budget = 2048L)
      .groupBy("lang", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("checksum"))
      .orderBy("lang", "shard_id")

  // ---- p18: the Lee-et-al PIPELINE end-to-end, one declarative
  // plan — d20's exact-substring CUT → p19's TWO-LEVEL concat-and-
  // chunk over the CLEANED text → p15's manifest at shard grain. This
  // is the shape a real pretraining pipeline runs (dedup feeds
  // packing feeds the data card), and composition is where operator-
  // boundary bugs hide (p10 caught exactly that class): every stage
  // is the operator its standalone gate proves, chained as ONE
  // Catalyst plan with no intermediate materialization. A shard is
  // E = 16 consecutive C = 128-token examples (2048 tokens — p15's
  // budget); a doc belongs to the shard its FIRST token lands in, so
  // shard assignment is map-side integer division on the running
  // offset.
  // Scale shape: the cut's shuffles carry (hash, doc) and
  // (doc, interval) only; the packing is p19's two-level prefix sum —
  // running sum WITHIN (lang, doc_id-block bucket) plus broadcast
  // per-bucket offsets, so no reducer ever prefix-sums a whole lang
  // (the flagship pipeline carries the scale-safe form end to end;
  // the equivalence to the single-level offsets is cross-engine-
  // proven by p19's own gate, whose oracle IS p16's SQL). The cut +
  // tokenize subtree feeds BOTH the offsets aggregation and the
  // running-sum window, so `t` ends in an EXPLICIT (lang, bkt)
  // repartition: both consumers' requirements are satisfied by that
  // one exchange and Catalyst reuses it — the expensive cut runs
  // ONCE, and only (lang, source, doc_id, n_tokens, bkt) cross the
  // wire twice. The manifest is one hash-agg at (lang, shard) grain
  // with shard-bounded id lists. All-integer + md5-checksum output,
  // so the oracle composes the three stages' own CTE chains and
  // replays it exactly. ----
  def lee_pipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val C = 128
    val E = 16
    val t = cutCorpus(s, dir).select(col("lang"), col("source"),
        col("doc_id"),
        size(TextFunctions.tokens(col("clean_text"))).cast("long")
          .as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bkt", expr("doc_id div 64"))
      .repartition(col("lang"), col("bkt"))
    val off = t.groupBy("lang", "bkt").agg(sum("n_tokens").as("tok"))
      .withColumn("off", coalesce(
        sum("tok").over(Window.partitionBy("lang").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bkt", "off")
    t.join(broadcast(off), Seq("lang", "bkt"))
      .withColumn("start_off",
        sum("n_tokens").over(Window.partitionBy("lang", "bkt")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0))
          + col("off") - col("n_tokens"))
      .withColumn("shard_id", expr(s"(start_off div $C) div $E"))
      .groupBy("lang", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("checksum"))
      .orderBy("lang", "shard_id")
  }

  // ---- deterministic source mixing: per-source keep fractions
  // applied via md5-bucket thresholds — map-only, no shuffle, and the
  // SAME rows survive in any engine (the reproducibility a corpus-mix
  // spec needs; rand()/sample() give neither cross-run nor
  // cross-engine stability). ----
  def source_mix(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(docs(s, dir), col("source"), col("doc_id"),
        Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5), defaultFraction = 0.25)
      .withColumn("split",
        Sampling.splitLabel(col("doc_id"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
      .select("doc_id", "source", "split")
      .orderBy("doc_id")

  // ---- p07: temperature-weighted source mixing (the multinomial
  // upsampling rule of multilingual/multi-source LM training:
  // sample source s proportionally to n_s^α, α = 0.5 — flattens the
  // source distribution so small sources aren't drowned). Unlike
  // p04's FIXED per-source fractions, the rates here are COMPUTED
  // from the corpus itself: count per source → n^0.5 weight →
  // exact integer row budget per source → deterministic selection of
  // exactly that many rows by md5 rank. sqrt (not pow) on purpose
  // (IEEE-754 sqrt is correctly rounded in every engine), and the
  // weights go through DECIMAL before the total so the sum is exact
  // and order-independent — see the inline note. Scale shape: the budget
  // table is sources-sized (broadcast); selection ranks per source —
  // at 100 TB you pre-filter with Sampling.hashBucket to ~1.2× the
  // budget first (map-only) so the per-source sort ranks a sliver,
  // not the corpus; the sliver rank is exact and the same rows win. ----
  def temperature_mix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    // q is DECIMAL-rounded before the total: a raw double sum(q) adds
    // in partition/engine-dependent order, and a total one ulp off
    // can flip a floor() budget. DECIMAL addition is exact and
    // order-independent, so sq — and every budget — is bit-identical
    // everywhere (the t12/t13 summation discipline, applied here).
    val weights = d.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("q",
        round(sqrt(col("n").cast("double")).cast("decimal(28,10)"), 9)
          .cast("decimal(28,9)"))
    val tot = weights.agg(sum("q").as("sq"))
    val targets = weights.crossJoin(broadcast(tot))
      .withColumn("target_rows",
        floor(lit(200.0) * col("q").cast("double") / col("sq").cast("double"))
          .cast("long"))
      .select("source", "target_rows")
    d.withColumn("rk",
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("long"))
      .join(broadcast(targets), "source")
      .filter(col("rk") <= col("target_rows"))
      .select("doc_id", "source", "rk")
      .orderBy("source", "rk")
  }

  // ---- p14: quality-mass BUDGET apportionment — the quality-driven
  // counterpart to p07's size-driven mixing: each source's share of a
  // fixed training budget is proportional to its total QUALITY MASS
  // (Σ integer-quantized t02 score — d11's qi), so a small-but-clean
  // source outranks a big-but-noisy one, one deterministic step of
  // the measure-then-reweight loop domain-reweighting pipelines run.
  // The apportionment is EXACT largest-remainder (Hamilton) — p07
  // floors and quietly drops the residual rows; here the leftover
  // seats go to the largest remainders (ties to source ASC) so the
  // budgets sum to EXACTLY B. Everything is BIGINT: qi sums, the DIV
  // floor, remainders B·qmass − base·T, and the seat rank via a
  // sources² self-join (dictionary-sized, the t19-style deliberate
  // tiny cross — no float enters the allocation at all). Selection
  // within a source is p07's md5-rank cut. Scale: the allocation
  // tables are sources-sized (broadcast); scoring is map-only; the
  // per-source rank is the p07 pre-filter-at-scale shape. ----
  def quality_budget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 200L
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
      floor(TextFunctions.qualityScore(col("text")) * 1e4 + lit(0.5))
        .cast("long").as("qi"))
    val bySrc = scored.groupBy("source").agg(sum("qi").as("qmass"))
    val tot = bySrc.agg(sum("qmass").as("t"))
    val floors = bySrc.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(qmass * $B) DIV t"))
      .withColumn("rem", col("qmass") * B - col("base") * col("t"))
    val seats = floors.agg((lit(B) - sum("base")).as("k"))
    val ahead = floors.select(col("source"), col("rem"))
      .crossJoin(floors.select(col("source").as("s2"), col("rem").as("rem2")))
      .filter(col("rem2") > col("rem") ||
        (col("rem2") === col("rem") && col("s2") < col("source")))
      .groupBy("source").agg(count(lit(1)).as("ahead"))
    val budgets = floors.join(ahead, Seq("source"), "left")
      .withColumn("ahead", coalesce(col("ahead"), lit(0L)))
      .crossJoin(broadcast(seats))
      .withColumn("budget",
        col("base") + when(col("ahead") < col("k"), 1L).otherwise(0L))
      .select("source", "budget")
    scored.withColumn("rk",
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("long"))
      .join(broadcast(budgets), "source")
      .filter(col("rk") <= col("budget"))
      .select("doc_id", "source", "rk")
      .orderBy("source", "rk")
  }

  // ---- p08: curriculum ordering — length-staged training with
  // quality-mixed batches: docs are cut into 10 length deciles
  // (short→long = easy→hard, the classic curriculum axis), then each
  // "batch" takes one doc per decile in deterministic md5 order, so
  // batch b is a difficulty-balanced draw and batches sweep the
  // corpus without replacement. Output order (batch, decile) IS the
  // curriculum; everything is integer/window arithmetic, so the
  // oracle replays it exactly. Scale note: the global ntile here is
  // the oracle-exact form kept for ntile's SQL-standard tie split;
  // the 100-TB form — cut-points from a two-pass precompute, map-only
  // CASE assignment, two-level bucketed batch rank — is implemented
  // as [[curriculum_scale]] (gate p11) with its own full oracle. ----
  def curriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, dir).select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val d = t.withColumn("decile",
      ntile(10).over(Window.orderBy(col("n_tokens"), col("doc_id"))))
    d.withColumn("batch",
        row_number().over(Window.partitionBy("decile")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("long"))
      .select("doc_id", "n_tokens", "decile", "batch")
      .orderBy("batch", "decile", "doc_id")
  }

  // ---- p11: the scale-safe curriculum — same curriculum semantics
  // as p08 but with every global funnel removed, the form you would
  // run at 100 TB:
  //  1. decile CUT-POINTS from a two-pass precompute: a length
  //     histogram (one row per DISTINCT length — bounded by max doc
  //     length, not corpus size) collapses driver-side into 9
  //     value-at-rank cut-points (rank_d = ceil(d·N/10), integer
  //     arithmetic only, so any engine replays it bit-exactly);
  //  2. decile assignment becomes a map-only chain of 9 codegen'd
  //     comparisons (1 + #cuts strictly below the length) — fused
  //     into the scan, zero data movement;
  //  3. the per-decile batch rank is TWO-LEVEL: rank within
  //     (decile, md5-prefix bucket) in parallel, then add the
  //     per-bucket offset (cumulative counts over a 10×256-row frame,
  //     broadcast back). Because the bucket is a PREFIX of the md5
  //     sort key, (bucket, md5) order ≡ md5 order, so the final ranks
  //     equal p08's per-decile row_number exactly — but no reducer
  //     ever sees more than one bucket's slice (~N/2560 rows) instead
  //     of a whole decile (N/10).
  // Ties at a cut-point land in the LOWER decile (strict >), the one
  // place the semantics deliberately differ from ntile's
  // row-number-based split — cut-point assignment is value-determined,
  // which is what makes it map-only. p08 stays as the oracle-exact
  // ntile form; this gate carries its own full oracle with the same
  // cut-point rule. ----
  def curriculum_scale(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, dir).select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    // pass 1+2: histogram → driver-side cumulative sweep → 9 cuts.
    // The collect is bounded metadata (distinct lengths), the same
    // contract as the s03 centroid collect.
    val hist = t.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
      .orderBy("n_tokens").collect()
    val total = hist.iterator.map(_.getLong(1)).sum
    // cut_d = value at the LAST rank of ntile-bucket d (N = 10q+r →
    // bucket d ends at dq + min(d, r), SQL ntile's
    // remainder-to-first-buckets rule) — so on all-distinct lengths
    // this gate's deciles equal p08's ntile deciles exactly, and the
    // two differ only where ties straddle a boundary
    val ranks = (1 to 9).map(d => d * (total / 10) + math.min(d, total % 10))
    val cuts = Array.fill(9)(0L)
    var cum = 0L; var di = 0
    hist.foreach { row =>
      cum += row.getLong(1)
      while (di < 9 && cum >= ranks(di)) { cuts(di) = row.getLong(0); di += 1 }
    }
    require(di == 9 || total == 0, s"curriculum_scale: cut sweep ended at $di")
    // map-only decile: 1 + number of cut-points strictly below x
    val decile = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("n_tokens") > lit(c), lit(1)).otherwise(lit(0)) }
    val keyed = t.withColumn("decile", decile.cast("int"))
      .withColumn("mk", md5(col("doc_id").cast("string")))
      .withColumn("bkt", substring(col("mk"), 1, 2))
    // per-(decile, bucket) offsets: ≤ 10×256 rows, so the window over
    // them is driver-trivial; broadcast back for the map-side add
    val off = keyed.groupBy("decile", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.partitionBy("decile").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("decile"), col("bkt"), col("off"))
    keyed.join(broadcast(off), Seq("decile", "bkt"))
      .withColumn("batch",
        (row_number().over(Window.partitionBy("decile", "bkt")
          .orderBy(col("mk"), col("doc_id"))).cast("long") + col("off")))
      .select("doc_id", "n_tokens", "decile", "batch")
      .orderBy("batch", "decile", "doc_id")
  }

  // ---- p09: document chunking — fixed 64-token windows with
  // 16-token overlap (stride 48), the standard pretraining/RAG
  // chunker. Map-only: the chunk index explodes per row and each
  // chunk's hash is computed in place, so the only data movement is
  // the output itself; at 100 TB this runs inside the scan stage.
  // chunk i covers tokens [1+48i, min(64+48i, n)]; the count is
  // floor((n-1)/48)+1, so a final short chunk is kept (its tokens
  // would otherwise never train) and no chunk is pure overlap.
  // Hash instead of text in the output: integer/hex columns only. ----
  /** Shared chunk-span arithmetic for p09/p10: from a (doc_id, toks)
    * frame, one row per chunk with (chunk_idx, start_tok, n_toks) and
    * `toks` still in scope for hashing. ONE definition so the
    * standalone gate and the composed pipeline can never drift.
    */
  private def chunkSpans(t: DataFrame, C: Int, S: Int): DataFrame =
    t.select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
        explode(expr(s"sequence(0, (size(toks)-1) div $S)")).as("ci"))
      .select(col("doc_id"), col("toks"),
        col("ci").cast("long").as("chunk_idx"),
        (col("ci") * S + 1).cast("long").as("start_tok"),
        least(col("ci") * S + C, col("n")).minus(col("ci") * S)
          .cast("long").as("n_toks"))

  def chunk_docs(s: SparkSession, dir: String): DataFrame =
    chunkSpans(docs(s, dir).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks")), C = 64, S = 48)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_toks"),
        md5(array_join(
            slice(col("toks"), col("start_tok").cast("int"), lit(64)), " "))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  // ---- p10: the pipeline END-TO-END, one declarative plan — language
  // filter → quality filter → exact dedup (min-id survivor) → chunking
  // → token-budget shard packing. This is the composition story: every
  // stage is the same operator its standalone gate proves, Catalyst
  // fuses the map-side stages (filters + chunk explode run inside the
  // scan), and the only shuffles are the dedup hash-groupBy, the
  // survivor re-join, and the packing window. A 100-TB run partitions
  // the packing window by (source, date); the single global window
  // here is the oracle-exact form on one logical group. ----
  def pipeline_end_to_end(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lang = TextFunctions.languageId(d, "doc_id", "text")
    val quality = d.select(col("doc_id") +:
      TextFunctions.qualityFeatures(col("text")): _*)
      .select("doc_id", "quality_score")
    val survivors = d.select("doc_id", "text")
      .join(lang, "doc_id").join(quality, "doc_id")
      .filter(col("pred_lang") === "en" && col("quality_score") >= 0.42)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val chunks = chunkSpans(d.join(survivors, "doc_id")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks")),
        C = 64, S = 48)
      .select("doc_id", "chunk_idx", "n_toks")
    Packing.packByTokenBudget(
        chunks.withColumn("g", lit("all")), Seq("g"),
        Seq("doc_id", "chunk_idx"), "n_toks", budget = 2048L)
      .select("doc_id", "chunk_idx", "n_toks", "cum_tokens", "shard_id")
      .orderBy("doc_id", "chunk_idx")
  }

  // ---- vocabulary build: term → document frequency + collection
  // frequency, the tokenizer-training / IDF precompute. Two-level
  // aggregate: the (term, doc_id) distinct collapses per-doc repeats
  // map-side before the per-term rollup, so the second shuffle
  // carries one row per distinct (term, doc) — never raw tokens. ----
  def vocab(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    val perDoc = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"), sum("tf").as("term_freq"))
      .orderBy(col("doc_freq").desc, col("term_freq").desc, col("term").asc)
      .limit(100)
  }

  // ---- TF-IDF weighting: per-(doc,term) counts joined to the global
  // document-frequency table. The df side is vocabulary-sized — tiny
  // relative to the corpus — so it broadcasts; the corpus-side work
  // is one explode + one (doc,term) aggregation. N comes from a
  // metadata-cheap count, not a cross join. The score is DECIMAL-
  // routed to 6 places: JVM and libm ln() disagree by 1 ULP on some
  // inputs, and the gate hash-compares doubles exactly (t02 does the
  // same for its weighted score). ----
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val n = docs(s, dir).count()
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    tf.join(broadcast(df_), "term")
      .withColumn("tfidf",
        round((col("tf").cast("double")
            * log(lit(n.toDouble) / col("doc_freq").cast("double")))
          .cast("decimal(20,10)"), 6).cast("double"))
      .select("doc_id", "term", "tf", "doc_freq", "tfidf")
      .orderBy("doc_id", "term")
  }

  // ---- repetition filters (Gopher-style): distinct-token ratio, top-
  // token share, duplicate-bigram fraction per doc. ----
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextFunctions.repetitionSignals(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  // ---- the SQL-function surface end-to-end: the same text-analysis
  // primitives as t01-t04, but invoked through spark.sql over the
  // PipelineFunctions registry (what a spark-sql/Thrift user types) —
  // full oracle, so the gate proves the SQL path hits the identical
  // execution the Column API does. ----
  def sql_surface(s: SparkSession, dir: String): DataFrame = {
    graft.functions.PipelineFunctions.registerAll(s)
    docs(s, dir).createOrReplaceTempView("documents_sqlsurface")
    s.sql("""
      SELECT doc_id,
             lang_id(text) AS pred_lang,
             quality_features(text).quality_score AS quality_score,
             token_counts(text).ws_tokens AS ws_tokens,
             doc_fingerprint(text) AS fp
      FROM documents_sqlsurface ORDER BY doc_id""")
  }

  // ---- KLL quantile sketch gated by its RANK-ERROR BOUND: the
  // sketch's randomized compaction makes its outputs non-bit-stable,
  // so value equality can't be oracled — but the accuracy CONTRACT
  // can. Per (group, probe p) the query computes the exact rank
  // interval [count(<est), count(<=est)]/n of the sketch's estimate
  // IN THE SAME PLAN and emits whether [p-eps, p+eps] intersects it.
  // eps = 8% — ~5x the documented 99%-confidence k=200 normalized
  // rank error (1.65%), deliberately: the sketch is UNSEEDED, so a
  // gate at the 99% bound would legitimately fail ~1 run in 10 across
  // 12 checks. At 5 sigma the gate is deterministic in practice while
  // still catching implementation breakage (a broken sketch is off by
  // 30%+, not 8%). The oracle asserts every row is `true`. ----
  def kll_bound(s: SparkSession, dir: String): DataFrame = {
    graft.functions.PipelineFunctions.registerAll(s)
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("kll_lineitem")
    s.sql("""
      WITH sk AS (
        SELECT l_returnflag AS g,
               kll_sketch_agg(l_extendedprice) AS sk,
               count(*) AS n
        FROM kll_lineitem GROUP BY 1),
      est AS (
        SELECT g, n, pos, est
        FROM sk
        LATERAL VIEW posexplode(
          kll_quantiles(sk, array(0.25D, 0.5D, 0.75D, 0.95D))) t AS pos, est),
      ranks AS (
        SELECT e.g, e.pos, e.n,
               sum(CASE WHEN l.l_extendedprice <  e.est THEN 1 ELSE 0 END) AS lt,
               sum(CASE WHEN l.l_extendedprice <= e.est THEN 1 ELSE 0 END) AS le
        FROM est e JOIN kll_lineitem l ON l.l_returnflag = e.g
        GROUP BY e.g, e.pos, e.n)
      SELECT g,
             element_at(array(0.25D, 0.5D, 0.75D, 0.95D), pos + 1) AS p,
             (lt / n - 0.08D <= element_at(array(0.25D, 0.5D, 0.75D, 0.95D), pos + 1)
              AND element_at(array(0.25D, 0.5D, 0.75D, 0.95D), pos + 1) <= le / n + 0.08D)
               AS within_bound
      FROM ranks ORDER BY g, p""")
  }

  // ---- t15: content-defined chunking (gear/FastCDC-style) — chunk
  // boundaries chosen by token CONTENT, not position: a token whose
  // md5 hex starts with '0' (p = 1/16 → ~16-token expected chunks)
  // ENDS its chunk. Unlike p09's fixed-stride windows, an insertion
  // shifts only the one chunk it lands in — every later boundary
  // re-synchronizes — which is what makes CDC chunks the right unit
  // for insertion-robust dedup (rsync/LBFS/FastCDC lineage; the
  // production min/max clamps are a sequential scan and are
  // deliberately omitted — they would serialize the parallel prefix).
  // Plan shape: posexplode → per-doc window prefix-sum of boundary
  // flags (partition-parallel on doc_id) → one groupBy; the chunk
  // hash folds tokens in position order via sorted structs, so the
  // whole gate is deterministic integer/hex arithmetic. ----
  def cdc_chunks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, dir).select(col("doc_id"),
      posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary =
      when(substring(md5(col("tok")), 1, 1) === "0", lit(1L)).otherwise(lit(0L))
    t.withColumn("chunk_idx", coalesce(sum(boundary).over(w), lit(0L)))
      .groupBy("doc_id", "chunk_idx")
      .agg(count(lit(1)).as("n_toks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---- d12: cross-document duplicate CDC chunks — what t15's chunks
  // exist FOR: chunk-granular duplication detection that survives
  // insertions (a fixed-stride scheme mis-aligns after one inserted
  // token; CDC boundaries re-synchronize, so shared spans still hash
  // equal). Per doc: total chunks and how many of its chunk INSTANCES
  // have a hash shared with ≥2 distinct docs. Shuffle carries
  // (chunk_hash, doc_id) only — never text; the dup-hash side joins
  // back co-partitioned on the hash it aggregated on (exchange
  // reuse), the d10 scale argument verbatim. ----
  def cdc_dup_chunks(s: SparkSession, dir: String): DataFrame = {
    val ch = cdc_chunks(s, dir).select("doc_id", "chunk_hash")
    val dup = ch.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") >= 2)
      .select("chunk_hash")
    val perDoc = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val dupPerDoc = ch.join(dup, "chunk_hash")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  // ---- Z-order layout key: the Morton interleave that drives the
  // multi-dimensional write clustering (see operators.Zorder — per-
  // file bounding boxes tight in BOTH dims, pinned by ZorderSpec).
  // The key itself is gated with a bit-level oracle. ----
  def zorder_key(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        (col("doc_id") % 1024).as("k1"),
        (length(col("text")) % 1024).cast("long").as("k2"))
      .withColumn("zkey",
        graft.operators.Zorder.zkey2(col("k1"), col("k2"), bits = 10))
      .select("doc_id", "zkey")
      .orderBy("doc_id")

  // ---- heavy hitters via the FreqTopK sketch UDAF: top-10 most
  // frequent props.k values. One map-scan, bounded sketch state per
  // partial, fixed-size merge across the shuffle — never a per-
  // distinct-value shuffle row. Exact (and oracle-comparable) while
  // the value cardinality fits the sketch map; at saturation it
  // degrades to the documented Misra-Gries error bound instead of
  // OOMing. ----
  def topk_sketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val top = Tables.load(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").as("kv"))
      .agg(ColumnBridge.column(
        graft.functions.FreqTopK(
          ColumnBridge.expression(col("kv")), k = 10, maxMapSize = 1024)
          .toAggregateExpression()).as("top"))
    top.select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).as("rank"), col("t.item").as("item"),
        col("t.est").as("est"))
      .orderBy("rank")
  }

  // ---- multimodal: opaque binary payload + typed metadata. The decode
  // is a deterministic stub (no image/audio libs in this container); the
  // Spark-side plumbing — binary column, schema, batch shape — is real.
  def multimodal_meta(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        graft.multimodal.Multimodal.stubDecodeMeta(col("payload")))
      .select("doc_id", "n_bytes", "meta.width", "meta.height", "meta.format")
      .orderBy("doc_id")

  // ---- multimodal one-to-many: the frame-sampler batch shape (a
  // video decoder's explode-in-mapPartitions form — frames become rows
  // inside the partition iterator, so a large payload never
  // materializes all its frames at once). Stub frames are fixed-size
  // byte windows; the oracle reproduces the window arithmetic. ----
  // ---- multimodal AUDIO: a REAL decode round-trip with zero new
  // dependencies — the JDK's own WAV encoder synthesizes deterministic
  // PCM payloads per doc, javax.sound parses their RIFF headers back,
  // and the oracle states the closed-form arithmetic (frames derived
  // from doc_id, duration = frames/rate). Same map-only batch shape as
  // the image decode (m01): header reads never materialize the PCM. ----
  def multimodal_audio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT spread: javax.sound's AudioSystem synth/decode serializes on
    // the JDK's global provider-registry lock — 32-way parallel WAV
    // work measured a lock convoy (m03 0.6→2.8 s), so the audio gates
    // keep the serial decode partition (optimization r19)
    val wav = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthWav(
          frames = (id % 1000 + 100).toInt, sampleRate = 8000f,
          channels = 1))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal.decodeAudioMeta(wav, "doc_id", "payload")
      .selectExpr("id AS doc_id",
        "CAST(sample_rate AS INT) AS sample_rate", "channels",
        "CAST(frames AS BIGINT) AS n_frames",
        "CAST(round(frames * 1000.0 / sample_rate) AS BIGINT) AS duration_ms",
        "format")
      .orderBy("doc_id")
  }

  // ---- multimodal VIDEO CONTAINER: MP4/ISO-BMFF is length-prefixed
  // boxes (a public format), so duration/track-count decode needs no
  // codec — synthesize real containers per doc, walk the boxes back,
  // closed-form oracle. Frame/pixel decode stays honestly stubbed. ----
  def multimodal_video(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mp4 = docIdsSpread(s, dir).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthMp4(
          durationMs = id % 5000 + 1000, timescale = 1000,
          nTracks = (id % 3 + 1).toInt))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal.decodeMp4Meta(mp4, "doc_id", "payload")
      .selectExpr("id AS doc_id", "duration_ms", "n_tracks", "brand")
      .orderBy("doc_id")
  }

  // ---- m05: REAL image PIXEL math. Synthesize a deterministic
  // checkerboard PNG per doc (lossless, even width → exact closed-form
  // channel sums), decode the full raster back through javax.imageio,
  // and emit integer sums — the oracle is pure SQL arithmetic, no
  // float tolerance. This is the image path with NO stub left: real
  // encoder, real decoder, real per-pixel work. ----
  def multimodal_pixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val png = docIdsSpread(s, dir).as[Long]
      .map { id =>
        val (r0, g0, b0) = ((id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)
        val (r1, g1, b1) = ((id * 3 % 256).toInt, (id * 5 % 256).toInt, (id * 11 % 256).toInt)
        (id, graft.multimodal.Multimodal.synthCheckerPng(
          w = ((id % 16) * 2 + 16).toInt, h = (id % 24 + 8).toInt,
          c0 = (r0 << 16) | (g0 << 8) | b0, c1 = (r1 << 16) | (g1 << 8) | b1))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .decodeImagePixelStats(png, "doc_id", "payload")
      .selectExpr("id AS doc_id", "width", "height",
        "sum_r", "sum_g", "sum_b", "luma_sum_x1000")
      .orderBy("doc_id")
  }

  // ---- m11: REAL image RESIZE — synth a vertical-stripe PNG per doc
  // (position-dependent colors, so pooling geometry is pinned, unlike
  // the flat-mean checkerboard), decode it back through javax.imageio
  // and average-pool onto a 4×4 thumbnail with INTEGER cell sums. The
  // resize every multimodal pipeline runs before feature extraction,
  // with the full m05 exactness discipline: lossless codec + integer
  // sums = closed-form SQL oracle, no float tolerance. w,h are
  // multiples of 4 so blocks divide exactly (the decoder itself
  // handles the floor-split general case; spec'd separately). ----
  def multimodal_resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val png = docIdsSpread(s, dir).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthStripePng(
          w = ((id % 12) * 4 + 16).toInt, h = ((id % 6) * 4 + 8).toInt,
          seed = id))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .decodeImagePool(png, "doc_id", "payload", grid = 4)
      .selectExpr("id AS doc_id", "cy", "cx", "px",
        "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id", "cy", "cx")
  }

  // ---- m12: PERCEPTUAL average-hash image dedup — m07 finds images
  // whose decoded rasters are byte-identical; this finds images that
  // LOOK the same through re-grades: the classic aHash (pool to a
  // 4×4 thumbnail, threshold each cell against the image mean, 16-bit
  // signature, group by signature). The comparison is INTEGER-exact
  // (16·cell_sum > total_sum — equal-pixel cells make the ×16 exact)
  // and provably invariant under uniform brightness shifts: a +b grade
  // adds 3·b·px to every cell and 3·b·16·px to the total, shifting
  // both sides of each bit compare equally. The synth exercises
  // exactly that: content keyed by doc_id % 97, a per-doc uniform
  // brightness grade on top (wrap-free by construction) — same-key
  // docs have DIFFERENT rasters (m07's exact hash keeps them apart)
  // but identical aHashes, and the gate output groups them. Accidental
  // cross-key 16-bit collisions are the operator's real semantics and
  // the oracle replays them. Decode and pooling stay inside the decode
  // partition (the m-family plan contract); the shuffle carries
  // (id, 16 small integer cells), never rasters; at 100 TB the
  // hamming-≤τ variant bands the signature bytes exactly like d03. ----
  def multimodal_phash_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val png = docIdsSpread(s, dir).as[Long]
      .map { id =>
        val k = id % 97
        val b = ((id / 97) % 50).toInt
        (id, graft.multimodal.Multimodal.synthShadedStripePng(
          w = ((k % 12) * 4 + 16).toInt, h = ((k % 6) * 4 + 8).toInt,
          seed = k, brightness = b))
      }.toDF("doc_id", "payload")
    // one decode per image (optimization r18): the previous shape
    // joined the pooled cells with their own per-image total — two
    // consumers of the opaque decode mapPartitions, which Spark
    // cannot CSE, so every PNG was synthesized+decoded TWICE and the
    // cells⋈total join added two exchanges. imageAHash computes the
    // identical integer bit rule (16·cl > Σcl over the same poolCells
    // cells — bit-equality pinned by MultimodalSpec) inside the decode
    // partition; the shuffle now carries (id, ahash) only.
    graft.multimodal.Multimodal
      .decodeImageAHashes(png, "doc_id", "payload", grid = 4)
      .groupBy("ahash")
      .agg(min("id").as("keep_id"), count(lit(1)).as("dups"))
      .select("keep_id", "dups", "ahash")
      .orderBy("keep_id")
  }

  // ---- m07: image dedup by DECODED-raster content hash — the
  // standard multimodal-pipeline step (exact image dedup that
  // survives re-encoding), run end-to-end: synth PNGs keyed by
  // doc_id % 97 (distinct colors per key, so exactly the docs sharing
  // a key share an image; real PNG encode), real javax.imageio
  // decode, canonical-raster FNV-1a, hash-groupBy dedup. The Spark
  // side groups ONLY by the hash it computed from pixels — the
  // oracle's closed-form doc_id%97 grouping is recovered, proving the
  // decode+hash actually normalizes content. Shuffle carries
  // (hash, id), never rasters. ----
  def multimodal_image_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val png = docIdsSpread(s, dir).as[Long]
      .map { id =>
        val k = id % 97
        val c0 = (((k % 256).toInt) << 16) | (((k * 7 % 256).toInt) << 8) |
          (k * 13 % 256).toInt
        val c1 = (((k * 3 % 256).toInt) << 16) | (((k * 5 % 256).toInt) << 8) |
          (k * 11 % 256).toInt
        (id, graft.multimodal.Multimodal.synthCheckerPng(
          w = ((k % 16) * 2 + 16).toInt, h = (k % 24 + 8).toInt,
          c0 = c0, c1 = c1))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .rasterContentHash(png, "doc_id", "payload")
      // null hash = UNREADABLE, not dedupable: grouping nulls together
      // would mark N distinct undecodable images as duplicates of each
      // other (unreachable for the synth PNGs, load-bearing for the
      // helper's general use)
      .filter(col("raster_hash").isNotNull)
      .groupBy("raster_hash", "width", "height")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dups"))
      .select("keep_id", "dups", "width", "height")
      .orderBy("keep_id")
  }

  // ---- m06: REAL video FRAME pixels via Y4M (raw YUV, codec-free).
  // Frame sampling with actual per-frame luma sums replaces the m02
  // stub's "frames are just byte windows" fiction for the one video
  // format the JVM can honestly read. everyNth=2 exercises the
  // sampling arithmetic, not just the parse. ----
  def multimodal_y4m(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val y4m = docIdsSpread(s, dir).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthY4m(
          w = ((id % 8) * 2 + 8).toInt, h = ((id % 6) * 2 + 6).toInt,
          nFrames = (id % 7 + 3).toInt, seed = id))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .decodeY4mFrames(y4m, "doc_id", "payload", everyNth = 2)
      .selectExpr("id AS doc_id", "frame_idx", "width", "height", "y_sum")
      .orderBy("doc_id", "frame_idx")
  }

  // ---- m09: scene-change detection over REAL decoded video frames —
  // the temporal-analysis step of a video-pipeline (cut detection for
  // clip segmentation / frame sampling), run end-to-end on Y4M: real
  // frame decode (m06's codec-free parse), per-frame mean luma from
  // the exact plane sum, a lag window over (video, frame) for the
  // inter-frame jump, threshold ≥ 100 flags the cut. The synth's luma
  // ramps +17/frame mod 256, so the detector must fire exactly at the
  // wrap points — the oracle replays the closed form and every missed
  // or spurious cut breaks the row match. Scale shape: decode is
  // map-only below the window's (video)-partitioned shuffle, which
  // carries one (id, frame_idx, luma) row per frame — never pixels;
  // videos parallelize across, frames within a video stay together
  // (the locality a temporal op needs). ----
  def multimodal_scenes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val y4m = docIdsSpread(s, dir).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthY4m(
          w = ((id % 4) * 2 + 8).toInt, h = ((id % 3) * 2 + 6).toInt,
          nFrames = (id % 13 + 16).toInt, seed = id))
      }.toDF("doc_id", "payload")
    val frames = graft.multimodal.Multimodal
      .decodeY4mFrames(y4m, "doc_id", "payload", everyNth = 1)
      // exact for any constant-plane frame; real footage would keep
      // the scaled sum (y_sum vs w·h·threshold) to stay integer-exact
      .withColumn("luma", expr("y_sum div (width * height)"))
    frames
      .withColumn("prev_luma",
        lag("luma", 1).over(Window.partitionBy("id").orderBy("frame_idx")))
      .filter(col("prev_luma").isNotNull &&
        abs(col("luma") - col("prev_luma")) >= 100)
      .select(col("id").as("doc_id"), col("frame_idx"),
        col("prev_luma"), col("luma"),
        abs(col("luma") - col("prev_luma")).as("jump"))
      .orderBy("doc_id", "frame_idx")
  }

  // ---- m08: REAL windowed audio features. Synthesize a deterministic
  // 16-bit PCM sawtooth per doc (closed-form samples), decode it back
  // through javax.sound's WAV reader, and reduce 256-sample windows to
  // exact integer energy / zero-crossing / peak stats — the oracle
  // regenerates the waveform with DuckDB's range() and states the same
  // window arithmetic in SQL. The audio path's m05 analogue: real
  // encoder, real container parse, real per-sample work, no floats. ----
  def multimodal_audio_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT spread — the m03 AudioSystem lock-convoy note
    val wav = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthWavWave(
          frames = (id % 1000 + 100).toInt, sampleRate = 8000f, seed = id))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .decodeAudioWindows(wav, "doc_id", "payload", window = 256)
      .selectExpr("id AS doc_id", "window_idx", "n_samples",
        "sum_sq", "zero_cross", "peak")
      .orderBy("doc_id", "window_idx")
  }

  // ---- m10: silence-run segmentation (VAD-style activity gating) —
  // the audio pipeline's cleaning pass: contiguous |v| < 256 runs of
  // ≥ 4 samples over the SAME synthesized-then-really-decoded sawtooth
  // as m08. The run scan is serial per waveform inside the decode
  // partition (runs are a serial property of one signal; payloads stay
  // parallel); the oracle regenerates the closed-form samples and
  // finds the same islands with the i − row_number() gaps trick. All
  // integers. ----
  def multimodal_silence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT spread — the m03 AudioSystem lock-convoy note
    val wav = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.synthWavWave(
          frames = (id % 1000 + 100).toInt, sampleRate = 8000f, seed = id))
      }.toDF("doc_id", "payload")
    graft.multimodal.Multimodal
      .decodeSilenceRuns(wav, "doc_id", "payload", threshold = 256, minRun = 4)
      .selectExpr("id AS doc_id", "CAST(seg_idx AS INT) AS seg_idx",
        "start_sample", "n_samples")
      .orderBy("doc_id", "seg_idx")
  }

  def multimodal_frames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.stubFrameSample(
        docs(s, dir).withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", everyNth = 3, frameBytes = 256)
      .select(col("id").as("doc_id"), col("frame_idx"),
        octet_length(col("frame")).as("n_bytes"))
      .orderBy("doc_id", "frame_idx")

  // ---- t11: PII scrub. The corpus text is digit-free by
  // construction, so the gate splices deterministic closed-form PII
  // (email, dashed phone, dotted-quad IP derived from doc_id) into
  // every document — the m05 pattern: both engines synthesize the
  // same input, then each runs its own scrubber and the redacted TEXT
  // itself must hash-match, along with per-category counts. Map-only,
  // fully codegen'd (ScrubFunctions). ----
  private def piiRaw: Column = concat(
    col("text"),
    lit(" contact u"), col("doc_id"),
    lit("@mail-"), col("doc_id") % 7, lit(".example.com or call 555-"),
    lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
    lpad((col("doc_id") * 3 % 10000).cast("string"), 4, "0"),
    lit(" from 10."), col("doc_id") % 256,
    lit("."), col("doc_id") * 3 % 256,
    lit("."), col("doc_id") % 250, lit("."))

  def pii_scrub(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), piiRaw.as("raw"))
    d.select(
        col("doc_id") +:
          graft.functions.ScrubFunctions.piiCounts(col("raw")) :+
          graft.functions.ScrubFunctions.scrubPii(col("raw")).as("scrubbed"): _*)
      .orderBy("doc_id")
  }

  // ---- p06: corpus-level boilerplate removal. Synthesized input
  // gives every doc a unique intro paragraph plus per-source and
  // global boilerplate paragraphs (25× / 500× / ~167× recurrence at
  // sf0.01); paragraphs in ≥ 5 distinct docs must vanish and the
  // unique intro survive, order preserved. The oracle recomputes the
  // corpus-frequency dedup independently (string_split + GROUP BY
  // para + NOT IN), not from the closed form — an independent
  // derivation of the same cleaning semantics. ----
  private def boilerDoc: Column = concat(
    lit("intro-"), col("doc_id"), lit(" "), substring(col("text"), 1, 48),
    lit("\n\nbrought to you by the "), col("source"), lit(" network"),
    lit("\n\nall rights reserved worldwide"),
    when(col("doc_id") % 3 === 0, lit("\n\nsubscribe for updates"))
      .otherwise(lit("")))

  def boilerplate_clean(s: SparkSession, dir: String): DataFrame =
    TextDedup.removeBoilerplate(
        docs(s, dir).select(col("doc_id"), boilerDoc.as("text")),
        "doc_id", "text", sep = "\n\n", minDocs = 5L)
      .select("doc_id", "clean_text", "n_kept", "n_removed")
      .orderBy("doc_id")

  // ---- d08: URL canonicalization dedup (web-crawl recrawl collapse).
  // Synthesized URLs vary only in junk — scheme/host case, default
  // port, tracking params, param order, fragment, trailing slash —
  // within each doc_id%100 group, so canonical-URL grouping must
  // recover exactly those groups. The oracle derives the canonical
  // string in closed form, independently of the regex pipeline: any
  // canonicalization bug (fragment kept, utm_* retained, port kept,
  // case not folded, slash kept) breaks the hash. ----
  private def crawlUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
    when(col("doc_id") % 3 === 0, lit("WWW.SITE")).otherwise(lit("www.site")),
    col("doc_id") % 10, lit(".COM"),
    when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
    lit("/Articles/"), col("doc_id") % 100,
    when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
    lit("?"),
    when(col("doc_id") % 2 === 0,
      concat(lit("ref="), col("doc_id") % 4, lit("&utm_source=feed")))
      .otherwise(concat(lit("utm_campaign=x&ref="), col("doc_id") % 4)),
    when(col("doc_id") % 7 === 0, concat(lit("#section"), col("doc_id") % 5))
      .otherwise(lit("")))

  def url_dedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), crawlUrl.as("url"))
      .select(col("doc_id"),
        graft.functions.ScrubFunctions.canonicalUrl(col("url"))
          .as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .orderBy("keep_id")

  // ---- t27: in-engine TRAINED quality classifier — a distributed
  // BATCH PERCEPTRON over hashed-unigram count features (the
  // fastText-style quality gate a CCNet/FineWeb-class pipeline trains
  // on a curated-vs-crawl label and then applies corpus-wide; t24
  // scores by domain STATISTICS, this gate trains a DISCRIMINATIVE
  // model inside the engine). Features: B = 32 md5-position token
  // buckets (the t24/d14 fold) + one always-1 bias bucket; label
  // y = +1 for the curated slice (source ∈ src0..src4), −1 otherwise.
  // Epoch e: score(doc) = Σ_b w(b)·c(doc,b); every doc with
  // y·score ≤ 0 is misclassified and contributes y·x to the weight
  // update — the classic batch perceptron step, E = 3 epochs.
  //
  // Scale shape: the corpus is tokenized ONCE into the (doc, y,
  // bucket, count) feature table — ≤ B+1 integer rows per doc, orders
  // of magnitude under the text it summarizes — and persisted
  // (memory-and-disk) for the epoch loop; the raw corpus is never
  // rescanned. The label rides THROUGH the feature aggregation (y is
  // a per-row function of `source`, functionally dependent on doc_id,
  // so grouping by it adds no cardinality) — there is no label join
  // anywhere. Per epoch: the weight vector is B+1 = 33 rows,
  // broadcast into a map-side score join; the misclassified ids flow
  // back as one doc-grain LEFT SEMI join between integer tables
  // (unique keys, linear, skew-free); the update aggregates to
  // ≤ B+1 (bucket, delta) rows — the per-epoch driver collect is B+1
  // rows, the s03-centroids bounded-artifact contract. E is a
  // constant, so the whole trainer is 2E feature-table passes + E
  // bounded collects.
  //
  // Determinism: EVERYTHING is BIGINT — counts, weights, scores,
  // updates — so there is no float discipline to keep; the oracle
  // unrolls the E epochs as CTEs over the same md5 bucket fold and
  // must match bit-exactly. A doc scoring exactly 0 is misclassified
  // by convention (w₀ = 0 starts the loop); prediction is
  // sign(score) with 0 → −1, the same boundary. ----
  private val t27Buckets = 32
  private val t27Epochs = 3

  private[graft] def t27Features(s: SparkSession, dir: String,
      B: Int = t27Buckets): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("source"),
      when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
        lit(1L)).otherwise(lit(-1L)).as("y"),
      col("text"))
    // source rides the group key alongside y — both are per-row
    // functions of the doc, so neither adds cardinality, and t28's
    // per-source eval needs it without a join
    base.select(col("doc_id"), col("source"), col("y"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .withColumn("b",
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % B)
          .cast("int"))
      .groupBy("doc_id", "source", "y", "b").agg(count(lit(1)).as("c"))
      .unionByName(base.select(col("doc_id"), col("source"), col("y"),
        lit(B).cast("int").as("b"), lit(1L).as("c")))
  }

  private val t27WeightsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val t27FeatMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The persisted feature table, memoized per (SESSION, corpus, B) —
    * training AND the t27/t28 scoring passes all read THIS copy, so
    * the raw corpus is tokenized once per JVM, not once per gate
    * (review finding: the earlier unpersist-then-rebuild shape
    * re-scanned the corpus for every scoring pass). The session rides
    * the key because a cached DataFrame is BOUND to the session that
    * built it — a same-JVM session restart must rebuild, not replay a
    * plan against a stopped session (round-15 ADVICE).
    */
  private def t27FeaturesCached(s: SparkSession, dir: String,
      B: Int): DataFrame = {
    // opportunistic eviction (round-16 ADVICE): entries are keyed by
    // session identity, so in a long-lived JVM that restarts sessions
    // the dead sessions' plans would otherwise accumulate unboundedly.
    // Any entry under a DIFFERENT session prefix is either dead (its
    // cache died with its session — unpersist throws, skipped) or
    // belongs to a concurrent live session, which simply rebuilds its
    // own entry on next use; dropping it costs one re-tokenization,
    // never correctness.
    val prefix = s"${System.identityHashCode(s)}#"
    t27FeatMemo.keySet.forEach { k =>
      if (!k.startsWith(prefix))
        Option(t27FeatMemo.remove(k)).foreach { df =>
          try df.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }
    t27FeatMemo.computeIfAbsent(
      s"$prefix$dir#B=$B",
      _ => t27Features(s, dir, B).persist())
  }

  /** Drops the trained-weight and feature memos (unpersisting the
    * cached tables) — the `maintain` rehearsal's B-sweep trains at
    * non-gate widths first and must not leave the gate legs a
    * pre-trained B=32 entry (their M-curve times the full train+score
    * gate body).
    */
  private[graft] def clearT27Memo(): Unit = {
    t27WeightsMemo.clear()
    // blocking: the maintain B-sweep rebuilds at another B immediately
    // after this call — an async unpersist would transiently double-
    // cache two corpus-sized feature tables (round-15 VERDICT note)
    t27FeatMemo.values.forEach { df =>
      // a memo entry may belong to an already-stopped session (the
      // session rides the key); unpersist on a dead session throws —
      // skip it, its cache died with the session
      try df.unpersist(blocking = true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    t27FeatMemo.clear()
  }

  /** The trained weight vector — E epochs of the batch-perceptron
    * update over the persisted feature table, memoized per (SF, B)
    * (the training is deterministic, so t27's scoring and t28's eval
    * probe the SAME model without re-training; B+1 longs, the
    * s03-centroids bounded-artifact contract — B is the feature-
    * dimension dial, and the contract holds to production widths: at
    * B = 2²⁰ the vector is 8 MB, still a trivial broadcast/collect;
    * the `maintain` rehearsal's B-sweep measures the flatness).
    */
  private[graft] def t27TrainedWeights(s: SparkSession, dir: String,
      B: Int = t27Buckets): Array[Long] =
    t27WeightsMemo.computeIfAbsent(s"$dir#B=$B", _ => {
      import s.implicits._
      val feat = t27FeaturesCached(s, dir, B)
      val w = Array.fill[Long](B + 1)(0L)
      (1 to t27Epochs).foreach { _ =>
        val wDf = w.indices.map(b => (b, w(b))).toDF("b", "w")
        val mis = feat.join(broadcast(wDf), Seq("b"))
          .groupBy("doc_id", "y")
          .agg(sum(col("c") * col("w")).as("score"))
          .filter(col("y") * col("score") <= 0)
          .select("doc_id")
        // bounded collect: ≤ B+1 rows (the per-epoch weight update)
        feat.join(mis, Seq("doc_id"), "left_semi")
          .groupBy("b").agg(sum(col("y") * col("c")).as("d"))
          .collect()
          .foreach(r => w(r.getInt(0)) += r.getLong(1))
      }
      w
    })

  def perceptron_quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = t27TrainedWeights(s, dir)
    val wDf = w.indices.map(b => (b, w(b))).toDF("b", "w")
    t27FeaturesCached(s, dir, t27Buckets)
      .join(broadcast(wDf), Seq("b"))
      .groupBy("doc_id", "y")
      .agg(sum(col("c") * col("w")).as("score"))
      .withColumn("pred",
        when(col("score") > 0, lit(1L)).otherwise(lit(-1L)))
      .orderBy("doc_id")
  }

  // ---- t28: trained-classifier EVAL as a query — the adopt-or-
  // reject metric for t27's model, the t25-to-t21 relationship
  // replayed for the classifier family: per SOURCE, how many docs the
  // trained weights flag as curated (n_pred_pos) and how many they
  // get right (n_correct). Every source is label-pure (y is a
  // function of source), so the per-source rows ARE the confusion
  // matrix at its finest honest grain: positive sources contribute
  // (n_correct = TP, n_docs − n_correct = FN), negative sources
  // (n_correct = TN, n_pred_pos = FP). One broadcast of the same
  // 33-long weight vector t27 scored with (memoized — the model is
  // trained ONCE per corpus), one doc-grain agg, one source-grain
  // agg; all-BIGINT, so the oracle replays the full train+score+eval
  // chain exactly. ----
  def perceptron_eval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = t27TrainedWeights(s, dir)
    val wDf = w.indices.map(b => (b, w(b))).toDF("b", "w")
    t27FeaturesCached(s, dir, t27Buckets)
      .join(broadcast(wDf), Seq("b"))
      .groupBy("doc_id", "source", "y")
      .agg(sum(col("c") * col("w")).as("score"))
      .withColumn("pred",
        when(col("score") > 0, lit(1L)).otherwise(lit(-1L)))
      .groupBy("source", "y")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === 1L, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L))
          .as("n_correct"))
      .orderBy("source")
  }

  // ---- t29: classifier-GATED corpus composition — t27's trained
  // model applied as a real pipeline stage (the FineWeb shape: train
  // a quality classifier once, then gate the whole corpus with it and
  // pack what survives): score → threshold → concat-and-chunk packing
  // of the kept docs, ONE Catalyst plan. The scoring pass reads the
  // SAME persisted feature table the trainer built ([[
  // t27FeaturesCached]]) — and because every token lands in exactly
  // one hash bucket, Σc over the non-bias buckets IS the t03
  // whitespace token count, so ONE aggregation over that table yields
  // BOTH the gate score and the packing weight: the corpus is never
  // re-tokenized (PlanContractSpec pins exactly one documents scan —
  // the doc-grain lang projection — in the whole plan).
  //
  // The packing is p19's scale-safe two-level prefix sum under the
  // p18 discipline: the gated doc-grain table ends in an EXPLICIT
  // (lang, bkt) repartition feeding both the per-bucket offsets
  // aggregation and the running-sum window, so AQE plans ONE exchange
  // and reuses it (ReusedExchange asserted at runtime) — the
  // score+gate subtree runs once. All-BIGINT (scores, counts,
  // offsets), so the oracle composes the shared perceptron CTE
  // cascade with p16's packing chain and must match bit-exactly. ----
  def classifier_gated_corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val C = 128
    val w = t27TrainedWeights(s, dir)
    val wDf = w.indices.map(b => (b, w(b))).toDF("b", "w")
    val scored = t27FeaturesCached(s, dir, t27Buckets)
      .join(broadcast(wDf), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("w")).as("score"),
        sum(when(col("b") < t27Buckets, col("c")).otherwise(lit(0L)))
          .as("n_tokens"))
      .filter(col("score") > 0 && col("n_tokens") > 0)
    val t = scored
      .join(docs(s, dir).select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("bkt", expr("doc_id div 64"))
      .repartition(col("lang"), col("bkt"))
    val off = t.groupBy("lang", "bkt").agg(sum("n_tokens").as("tok"))
      .withColumn("off", coalesce(
        sum("tok").over(Window.partitionBy("lang").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bkt", "off")
    t.join(broadcast(off), Seq("lang", "bkt"))
      .withColumn("start_off",
        sum("n_tokens").over(Window.partitionBy("lang", "bkt")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0))
          + col("off") - col("n_tokens"))
      .select(col("lang"), col("doc_id"), col("score"), col("n_tokens"),
        col("start_off"),
        expr(s"start_off div $C").as("first_example"),
        expr(s"(start_off + n_tokens - 1) div $C").as("last_example"))
      .orderBy("lang", "doc_id")
  }

  // ---- t30: the t25 compression-ratio eval at the t26 REALISTIC
  // vocabulary (round-15 VERDICT #6): t26 pinned the ENCODE chain at
  // the 12.2k-word fixture, but the adopt-or-reject compression
  // metric still ran only on the ~31-word toy corpus — the one place
  // a vocabulary-scale regression could hide from the eval. Same
  // delegation discipline as t26: t25's chain verbatim, pointed at
  // the fixture corpus, probing the SAME persisted dict artifact the
  // fixture's training run writes; the oracle replays compression
  // over the fixture parquet by literal path and reads the dict
  // artifact back. ----
  def bpe_compression_large(s: SparkSession, dir: String): DataFrame =
    bpe_compression(s, t26CorpusFor(s))

  /** Where the p20 compacted table persists, keyed by the SF dir's
    * basename like [[s03CentroidsPath]].
    */
  def p20CompactPath(dir: String): String =
    s"/tmp/graft_p20_compact/${new java.io.File(dir).getName}"

  private val p20Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Compaction target size (a power of two, so even a floating-point
    * spelling of the bin division would be exact; the code uses
    * integer `div` anyway) and the simulated small-file fan-out.
    */
  private val p20TargetBytes = 16384L
  private val p20SourceFiles = 64L

  // ---- p20: small-file COMPACTION — the table-maintenance operation
  // every streaming-ingested 100 TB table needs (a per-trigger sink
  // leaves thousands of KB-sized files per partition; scan throughput
  // dies on file-open overhead until an OPTIMIZE-style rewrite
  // bin-packs them to target-sized files). The reference's hourly
  // importer has exactly this layout problem — one file per hour —
  // and ClickHouse's background merges are the engine-side answer.
  // [[graft.ingest.EventsWriter.compact]] is the events-table member
  // of this family (COUNT-triggered month rewrite, spec-pinned); this
  // gate is the generic corpus-side member: SIZE-TARGET bin packing
  // with the whole plan/rewrite/read-back chain ORACLE-gated, which
  // the ingest variant's trigger (physical file counts, engine-
  // dependent) cannot be.
  //
  // Input layout: the documents table scattered round-robin across
  // [[p20SourceFiles]] simulated ingest files (file_id = doc_id mod
  // 64 — a streaming sink's arrival-order assignment). Plan: per
  // table partition (lang), order files by (bytes DESC, file_id),
  // running-sum the bytes, bin = prefix-sum div target — the sorted
  // next-fit packing Spark's own FilePartition coalescing and Delta's
  // OPTIMIZE use; every bin lands within one file of the target.
  // Execute: join the (file → bin) plan back to the rows and REWRITE
  // as one parquet dataset partitioned by (lang, bin), one file per
  // bin. The gate then reads the REWRITTEN table back and manifests
  // it — (files-in, docs, bytes, membership checksum) per output bin
  // — while the oracle recomputes the expected manifest from the
  // ORIGINAL table: any loss, duplication, or misassignment in the
  // plan/rewrite/read-back chain breaks the match (the t25
  // artifact-probing discipline, with the checksum pinning exact
  // membership, not just counts).
  //
  // Scale shape: the plan runs at FILE grain — the manifest of a
  // 100 TB table is millions of rows, metadata-scale, and the per-
  // partition sort window never sees more than one partition's file
  // list (the same work Delta's OPTIMIZE does driver-side; here it
  // stays distributed). The plan broadcasts (≤ #files rows) into a
  // map-side join, and the rewrite pays exactly ONE exchange at
  // (lang, bin) grain — the minimum any compaction can pay, and the
  // exchange IS the layout being produced. All-integer binning
  // (BIGINT div), so the oracle replays it exactly. ----
  private def compactedFor(s: SparkSession, dir: String): String =
    // memo key = the ARTIFACT path, not the SF dir: two dirs sharing a
    // basename map to the same /tmp artifact, and a full-path key
    // would let the second build clobber it while the first's memo
    // still vouched for the old contents (review finding)
    p20Built.compute(p20CompactPath(dir), (p, prev) => {
      if (prev != null &&
          new java.io.File(p).exists()) prev
      else {
        import org.apache.spark.sql.expressions.Window
        // FULL rows ride the rewrite (text included) — compaction
        // moves the data, not a projection of it; only the manifest
        // aggregation below is column-pruned
        val f = docs(s, dir)
          .withColumn("file_id", col("doc_id") % p20SourceFiles)
        val w = Window.partitionBy("lang")
          .orderBy(desc("fbytes"), asc("file_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val plan = f.groupBy("lang", "file_id")
          .agg(sum("n_chars").as("fbytes"))
          .withColumn("cum", sum("fbytes").over(w))
          .withColumn("bin",
            expr(s"(cum - fbytes) div $p20TargetBytes"))
          .select("lang", "file_id", "bin")
        f.join(broadcast(plan), Seq("lang", "file_id"))
          .repartition(col("lang"), col("bin"))
          .write.partitionBy("lang", "bin").mode("overwrite").parquet(p)
        p
      }
    })

  def compaction_manifest(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(compactedFor(s, dir))
      .groupBy(col("lang"), col("bin").cast("long").as("bin"))
      .agg(countDistinct("file_id").as("n_files_in"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("bytes"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("checksum"))
      .orderBy("lang", "bin")

  /** Where the p21 merge+split compacted table persists, keyed by the
    * SF dir's basename like [[p20CompactPath]].
    */
  def p21CompactPath(dir: String): String =
    s"/tmp/graft_p21_compact/${new java.io.File(dir).getName}"

  private val p21Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] val p21TargetBytes = 8192L

  /** Files above this split instead of merging — 4× the target, the
    * Delta OPTIMIZE maxFileSize shape.
    */
  private[graft] val p21SplitBytes = 4L * p21TargetBytes

  // ---- p21: compaction with the SPLIT side — the half of the
  // OPTIMIZE contract p20 deliberately lacks (round-15 VERDICT #3):
  // p20 only ever MERGES small files toward the target, but a
  // streaming sink can also land one giant skewed file per trigger
  // (every rows-per-trigger spike becomes a fat file), and a reader's
  // task granularity then degrades to that file's row-group layout.
  // The full maintenance operation is therefore two-sided: files at
  // or under the split threshold (4× target) bin-pack exactly as in
  // p20; files ABOVE it split into target-sized pieces by the
  // running byte offset WITHIN the file (offset div target — the
  // row-level analogue of the file-level prefix-sum, cutting the file
  // at target boundaries without ever splitting a document).
  //
  // Input layout: a deliberately SKEWED simulated ingest scatter —
  // 3/4 of each lang's docs land in file 0 (the fat-trigger file;
  // ≥4× target at every SF for `en`), the rest spread over 16 small
  // files — so one gate exercises BOTH regimes and the planted-
  // fixture spec pins that the split regime actually fired.
  //
  // Both sides compose into ONE plan: the file-grain manifest
  // classifies each file once; the merge plan (small files only)
  // broadcasts into its rows, the fat-file rows take the per-file
  // offset window, and the union pays exactly ONE (lang, bin)
  // exchange — the rewrite itself, same as p20. Split bins are
  // namespaced at 1e6 + file_id·1000 + piece (disjoint from merge
  // bins for any per-lang corpus under 8 GB and any file under
  // 8 MB at these targets; a deployment would widen the encoding
  // with the targets). The gate manifests the REWRITTEN parquet
  // while the oracle recomputes the expectation from the ORIGINAL
  // table — the p20 discipline, membership checksum included, so
  // loss/duplication/misassignment in either regime breaks the hash.
  //
  // Scale shape: the classification and merge plan run at FILE grain
  // (metadata-scale); the split side's window partitions by
  // (lang, file_id) — exactly one fat file's rows per partition, the
  // finest grain that can cut by intra-file offset, and bounded by
  // the largest file a sink can produce, not by the corpus. ----
  private def splitCompactedFor(s: SparkSession, dir: String): String =
    p21Built.compute(p21CompactPath(dir), (p, prev) => {
      if (prev != null && new java.io.File(p).exists()) prev
      else {
        import org.apache.spark.sql.expressions.Window
        val f = docs(s, dir).withColumn("file_id",
          expr("CASE WHEN doc_id % 4 < 3 THEN 0 ELSE 1 + doc_id % 16 END"))
        val fm = f.groupBy("lang", "file_id")
          .agg(sum("n_chars").as("fbytes"))
        val wPack = Window.partitionBy("lang")
          .orderBy(desc("fbytes"), asc("file_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mergePlan = fm.filter(col("fbytes") <= p21SplitBytes)
          .withColumn("cum", sum("fbytes").over(wPack))
          .withColumn("bin", expr(s"(cum - fbytes) div $p21TargetBytes"))
          .select("lang", "file_id", "bin")
        val fatIds = fm.filter(col("fbytes") > p21SplitBytes)
          .select("lang", "file_id")
        val wOff = Window.partitionBy("lang", "file_id").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // the two branches read DISJOINT file sets (in a real layout
        // file_id IS the input file, so together they scan the table
        // once — the simulated scatter pays the second scan only here)
        val merged = f.join(broadcast(mergePlan), Seq("lang", "file_id"))
        val split = f.join(broadcast(fatIds), Seq("lang", "file_id"))
          .withColumn("off", sum("n_chars").over(wOff) - col("n_chars"))
          .withColumn("bin",
            expr(s"1000000 + file_id * 1000 + (off div $p21TargetBytes)"))
          .drop("off")
        merged.unionByName(split)
          .repartition(col("lang"), col("bin"))
          .write.partitionBy("lang", "bin").mode("overwrite").parquet(p)
        p
      }
    })

  def compaction_split_manifest(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(splitCompactedFor(s, dir))
      .groupBy(col("lang"), col("bin").cast("long").as("bin"))
      .agg(countDistinct("file_id").as("n_files_in"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("bytes"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("checksum"))
      .orderBy("lang", "bin")
}
