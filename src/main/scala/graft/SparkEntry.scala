package graft

import graft.queries.{PipelineQueries, RefQueries, StreamingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY §7 + builder prompt).
  *
  * Query key prefixes map to SURVEY §2's inventory:
  *  - `r*`  — the reference's relational surface (B1–B21)
  *  - `g*`  — graph projection (A26–A28 argMax consolidation)
  *  - `d*`  — deduplication family (exact / MinHash+LSH / SimHash /
  *            n-gram Jaccard / embedding cosine)
  *  - `s*`  — similarity search (brute-force + IVF-blocked ANN)
  *  - `t*`  — text analysis (lang-id / quality / tokens / fingerprint)
  *  - `p*`  — composed pipelines (lang → quality → dedup in one plan)
  *  - `m*`  — multimodal binary-column plumbing
  *
  * Each gate is declared once, in [[gates]], with its engine function
  * and the DuckDB oracle SQL its result is checked against. Names are
  * distinct (checked when the registry is built); `queries` and
  * `oracleSql` are views over it.
  */
object SparkEntry {

  /** Flagship: the reference's weighted-activity query shape
    * (reference: README.md:109-129) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.activity(spark, "/root/testdata/sf0.001")

  /** One oracle-checked gate: `run(spark, sfDir)` builds its result, and
    * `oracleSql` computes the same result in DuckDB over the SF's parquet.
    */
  final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String)

  /** The registry as declared; a repeated name fails here instead of
    * silently replacing an earlier entry, as a `Map` literal would.
    */
  private[graft] def registry(gates: Gate*): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty,
      s"gate names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** The gates named, in registry order; every gate when `names` is
    * empty. A name not in the registry throws, so a typo cannot select
    * nothing.
    */
  def select(names: Seq[String]): Seq[Gate] = {
    val unknown = names.filterNot(queries.contains).distinct
    require(unknown.isEmpty, s"unknown gate names: ${unknown.mkString(", ")}")
    if (names.isEmpty) gates else gates.filter(g => names.contains(g.name))
  }

  /** The k-round BPE greedy-merge CTE chain shared by the t21/t23
    * oracles — generated, because the engine now trains
    * [[graft.queries.PipelineQueries.bpeMergeRounds]] = 64 merges and
    * a hand-unrolled 64-round SQL body would be unmaintainable.
    * Round r: s/x/c explode adjacent symbol pairs of w(r-1), b$r picks
    * (weight DESC, pair ASC) — DuckDB's binary collation, matching the
    * trainer's UTF-8 tie-break — and w$r applies the double-space
    * replace. `prefix` supplies the toks CTE (t23's carries doc_id);
    * `tail` closes the query.
    */
  private def bpeRoundsSql(k: Int, prefix: String, tail: String): String = {
    val sb = new StringBuilder(prefix)
    for (r <- 1 to k) sb ++= s""",
         s$r AS MATERIALIZED (SELECT string_split(trim(s), '  ') AS a, wf FROM w${r - 1}),
         x$r AS MATERIALIZED (SELECT a, wf, unnest(range(CAST(len(a)-1 AS BIGINT))) AS i
           FROM s$r WHERE len(a) >= 2),
         c$r AS MATERIALIZED (SELECT a[CAST(i+1 AS INTEGER)] || ' ' || a[CAST(i+2 AS INTEGER)] AS pair,
             CAST(sum(wf) AS BIGINT) AS weight FROM x$r GROUP BY 1),
         b$r AS MATERIALIZED (SELECT pair, weight FROM c$r ORDER BY weight DESC, pair ASC LIMIT 1),
         w$r AS MATERIALIZED (SELECT replace(s, ' ' || replace(b$r.pair, ' ', '  ') || ' ',
             ' ' || replace(b$r.pair, ' ', '') || ' ') AS s, wf FROM w${r - 1}, b$r)"""
    sb ++= tail
    sb.toString
  }

  private def bpeMergesOracle(k: Int): String =
    bpeRoundsSql(k,
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM toks GROUP BY 1),
         w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s, wf FROM wf)""",
      (1 to k).map { r =>
        s"""SELECT $r AS step, split_part(pair, ' ', 1) AS lhs,
                  split_part(pair, ' ', 2) AS rhs, weight FROM b$r"""
      }.mkString("\n         SELECT * FROM (\n           ",
        "\n           UNION ALL ", ")\n         ORDER BY step"))

  /** `from` parameterizes the corpus relation: "documents" for t23,
    * the t26 fixture's literal parquet path for the realistic-
    * vocabulary leg (raw interpolator — the regex escapes must reach
    * DuckDB untouched).
    */
  /** The shared t27 batch-perceptron CTE cascade — feature build (the
    * t24 md5 bucket fold at B=32 + the bias bucket) and the three
    * unrolled epochs, ending at `s3` = per-doc (source, y, score)
    * under the final weights. t27 and t28 compose their final SELECT
    * over this one string (the bpeEncodeOracle discipline), so a fix
    * to the epoch arithmetic lands in both oracles by construction.
    * `fl`/`s3` carry `source` for t28's rollup; t27 just doesn't read
    * it (source is functionally dependent on doc_id, so the extra
    * group key changes nothing at doc grain).
    */
  /** r06's five-subquery LEFT-JOIN activity oracle — shared verbatim
    * by r69 (the bucketed-catalog run of the same body): the layout
    * lever must never change answers, so both gates compare against
    * the ONE expectation computed from the original parquet.
    */
  private val activityOracleSql: String =
    """WITH ev AS (SELECT user_id,
             CAST(json_extract_string(props,'$.k') AS INTEGER)%10 AS k,
             event_type FROM events),
         c AS (SELECT user_id,k,count(*) AS n_click FROM ev WHERE event_type='click' GROUP BY 1,2),
         v AS (SELECT user_id,k,count(*) AS n_view FROM ev WHERE event_type='view' GROUP BY 1,2),
         sg AS (SELECT user_id,k,count(*) AS n_signup FROM ev WHERE event_type='signup' GROUP BY 1,2),
         er AS (SELECT user_id,k,count(*) AS n_error FROM ev WHERE event_type='error' GROUP BY 1,2),
         p AS (SELECT user_id,k,count(*) AS n_purchase FROM ev WHERE event_type='purchase' GROUP BY 1,2)
         SELECT c.user_id AS user_id,
                round(sum(sqrt(c.n_click + 2*coalesce(v.n_view,0)
                  + 3*coalesce(sg.n_signup,0) + 4*coalesce(er.n_error,0)
                  + 5*coalesce(p.n_purchase,0))),2) AS activity
         FROM c
         LEFT JOIN v ON c.user_id=v.user_id AND c.k=v.k
         LEFT JOIN sg ON c.user_id=sg.user_id AND c.k=sg.k
         LEFT JOIN er ON c.user_id=er.user_id AND c.k=er.k
         LEFT JOIN p ON c.user_id=p.user_id AND c.k=p.k
         GROUP BY c.user_id ORDER BY activity DESC, user_id LIMIT 20"""

  /** r35's FINAL-dedup oracle — shared verbatim by r71 (the
    * bucketed-catalog run of the same statement): layout must never
    * change the Replacing read's answer.
    */
  private val finalOracleSql: String =
    """SELECT user_id, event_type, event_id, value
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id DESC) AS rn
             FROM events) WHERE rn = 1
       ORDER BY user_id, event_type"""

  private def perceptronOracleCtes: String =
    """WITH lab AS (SELECT doc_id, source,
             CASE WHEN source IN ('src0','src1','src2','src3','src4')
                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
           FROM documents),
         toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         tb AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(w), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) % 32 AS INTEGER) AS b
           FROM toks),
         feat AS (
           SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
           FROM tb GROUP BY 1, 2
           UNION ALL
           SELECT doc_id, CAST(32 AS INTEGER) AS b, CAST(1 AS BIGINT) AS c
           FROM documents),
         fl AS (SELECT f.doc_id, f.b, f.c, l.y, l.source
           FROM feat f JOIN lab l USING (doc_id)),
         w1 AS (SELECT b, CAST(sum(y * c) AS BIGINT) AS w
           FROM fl GROUP BY 1),
         s1 AS (SELECT fl.doc_id, fl.y,
             CAST(sum(fl.c * w1.w) AS BIGINT) AS score
           FROM fl JOIN w1 USING (b) GROUP BY 1, 2),
         d1 AS (SELECT fl.b, CAST(sum(fl.y * fl.c) AS BIGINT) AS d
           FROM fl JOIN (SELECT doc_id FROM s1 WHERE y * score <= 0) m
             USING (doc_id)
           GROUP BY 1),
         w2 AS (SELECT coalesce(w1.b, d1.b) AS b,
             CAST(coalesce(w1.w, 0) + coalesce(d1.d, 0) AS BIGINT) AS w
           FROM w1 FULL JOIN d1 ON d1.b = w1.b),
         s2 AS (SELECT fl.doc_id, fl.y,
             CAST(sum(fl.c * w2.w) AS BIGINT) AS score
           FROM fl JOIN w2 USING (b) GROUP BY 1, 2),
         d2 AS (SELECT fl.b, CAST(sum(fl.y * fl.c) AS BIGINT) AS d
           FROM fl JOIN (SELECT doc_id FROM s2 WHERE y * score <= 0) m
             USING (doc_id)
           GROUP BY 1),
         w3 AS (SELECT coalesce(w2.b, d2.b) AS b,
             CAST(coalesce(w2.w, 0) + coalesce(d2.d, 0) AS BIGINT) AS w
           FROM w2 FULL JOIN d2 ON d2.b = w2.b),
         s3 AS (SELECT fl.doc_id, fl.source, fl.y,
             CAST(sum(fl.c * w3.w) AS BIGINT) AS score
           FROM fl JOIN w3 USING (b) GROUP BY 1, 2, 3)"""

  private def bpeEncodeOracle(k: Int, from: String = "documents"): String =
    bpeRoundsSql(k,
      raw"""WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM $from),
         wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM toks GROUP BY 1),
         w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s, wf FROM wf)""",
      // LEFT JOIN ON TRUE, not a cross join: when the vocabulary
      // exhausts before round k, b$r is EMPTY and a cross join would
      // empty the whole e-chain (dict → zero rows, engine → every
      // doc); the left join keeps s unchanged through empty rounds,
      // matching the engine's "no pairs left → symbolization frozen"
      (1 to k).map { r =>
        s"""e$r AS MATERIALIZED (SELECT w, CASE WHEN b$r.pair IS NULL THEN s
             ELSE replace(s, ' ' || replace(b$r.pair, ' ', '  ') || ' ',
               ' ' || replace(b$r.pair, ' ', '') || ' ') END AS s
           FROM e${r - 1} LEFT JOIN b$r ON TRUE)"""
      }.mkString(
        """,
         e0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') AS s
           FROM (SELECT DISTINCT w FROM toks)),
         """,
        ",\n         ",
        s""",
         dict AS (SELECT w,
             CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym,
             CAST(length(w) AS BIGINT) AS n_char FROM e$k)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(d.n_char) AS BIGINT) AS n_chars,
                CAST(sum(d.n_sym) AS BIGINT) AS n_tokens
         FROM toks t JOIN dict d USING (w)
         GROUP BY t.doc_id ORDER BY t.doc_id"""))

  /** Every oracle-checked gate, each next to its oracle and the notes
    * on how that oracle reproduces the engine's answer.
    */
  lazy val gates: Seq[Gate] = registry(
    Gate("r01_count", RefQueries.count_star, "SELECT count(*) AS cnt FROM events"),

    Gate("r02_filter_project", RefQueries.filter_project,
      """SELECT event_id, user_id, value AS amount FROM events
         WHERE event_type='purchase' AND value>100.0 ORDER BY event_id"""),

    Gate("r03_topk_json", RefQueries.topk_json_key,
      """SELECT CAST(json_extract_string(props,'$.k') AS INTEGER) AS k,
                count(*) AS cnt
         FROM events WHERE event_type='purchase' OR event_type='click'
         GROUP BY k ORDER BY cnt DESC, k LIMIT 20"""),

    Gate("r04_group_agg", RefQueries.group_agg,
      """SELECT event_type, count(*) AS cnt, min(ts) AS min_ts,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("r05_arg_min_max", RefQueries.arg_min_max,
      """SELECT event_type, arg_min(event_id, ts) AS first_id,
                arg_max(event_id, ts) AS last_id, count(*) AS cnt
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("r06_activity", RefQueries.activity, activityOracleSql),

    // r69: the SAME expectation as r06 — the bucketed catalog layout
    // must be answer-invariant; the plan difference (bucketed scan,
    // zero hash exchanges) is pinned by PlanContractSpec
    Gate("r69_bucketed_activity", RefQueries.bucketed_activity, activityOracleSql),

    // r70: user-grain fact-to-dim join, both sides bucketed on the
    // engine side; the oracle recomputes dim + join from the original
    // parquet, so any row lost/duplicated by the co-located plan
    // breaks the hash
    Gate("r70_bucketed_join", RefQueries.bucketed_join,
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             max(value) AS max_v
           FROM events GROUP BY 1)
         SELECT e.event_id, e.user_id, u.n_events, u.max_v
         FROM events e JOIN u USING (user_id)
         ORDER BY event_id"""),

    // r72: r70's join over the fact table AFTER the r47 mutation pair
    // (DELETE 'error', double value of big purchases) ran against the
    // BUCKETED catalog copy — the oracle replays the mutation
    // semantics declaratively from the original parquet (the dim stays
    // unmutated, as in the gate), so one hash verifies both the
    // mutation result and that the bucket-preserving rewrite lost no
    // rows; the preserved zero-exchange plan is pinned by
    // PlanContractSpec
    Gate("r72_bucketed_mutation", RefQueries.bucketed_mutation,
      """WITH m AS (SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'purchase' AND value > 50
                  THEN value * 2 ELSE value END AS value
           FROM events WHERE NOT (event_type = 'error')),
         u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             max(value) AS max_v
           FROM events GROUP BY 1)
         SELECT m.event_id, m.user_id, m.event_type, m.value,
                u.n_events, u.max_v
         FROM m JOIN u USING (user_id)
         ORDER BY event_id"""),

    // r74: the full MergeTree layout analogue (day partitions +
    // user buckets on one table) must be answer-invariant — the
    // oracle replays the day slice + rollup from the original
    // parquet; PartitionFilters + Bucketed + zero-exchange pinned by
    // PlanContractSpec
    Gate("r74_part_bucketed", RefQueries.part_bucketed_rollup,
      """SELECT user_id, n, sv, max_id FROM (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                  max(event_id) AS max_id
           FROM events
           WHERE CAST(strftime(ts, '%Y%m%d') AS INT) = 20240115
           GROUP BY user_id)
         ORDER BY n DESC, user_id LIMIT 20"""),

    // r75: TTL as of 2024-01-31 12:00 with INTERVAL 16 DAY — the
    // oracle keeps exactly the rows past the noon cutoff, so the
    // partition-drop fast path, the boundary rewrite, and the
    // untouched tail must compose to precisely this survivor set
    Gate("r75_ch_ttl", RefQueries.ch_ttl,
      """SELECT day_key, n, sv, min_id, max_id FROM (
           SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day_key,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                  min(event_id) AS min_id, max(event_id) AS max_id
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 12:00:00'
           GROUP BY 1)
         ORDER BY day_key"""),

    // r76: the SAME survivor expectation as r75 — the statement-surface
    // path (CH-verbatim TTL DDL + MATERIALIZE TTL) must land exactly
    // where the Scala-API path lands
    Gate("r76_ttl_ddl", RefQueries.ch_ttl_ddl,
      """SELECT day_key, n, sv, min_id, max_id FROM (
           SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day_key,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                  min(event_id) AS min_id, max(event_id) AS max_id
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 12:00:00'
           GROUP BY 1)
         ORDER BY day_key"""),

    // r77: system.parts row accounting for the r74 layout table — one
    // part per day partition; the oracle is the day histogram of the
    // original parquet (bytes_on_disk / file_count are FS facts,
    // pinned by SystemPartsSpec instead)
    Gate("r77_system_parts", RefQueries.system_parts,
      """SELECT CAST(CAST(strftime(ts, '%Y%m%d') AS INT) AS VARCHAR)
                  AS "partition",
                CAST(count(*) AS BIGINT) AS rows
         FROM events GROUP BY 1 ORDER BY "partition""""),

    // r78: lightweight DELETE's end state stated declaratively — rows
    // where the condition held are gone, everything else intact
    Gate("r78_delete_from", RefQueries.ch_delete_from,
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE NOT (event_type = 'error' OR value > 150)
         ORDER BY event_id"""),

    // r80: IN PARTITION scoping — only purchase values double (the
    // predicate alone matches every type) and only error rows vanish
    Gate("r80_in_partition", RefQueries.ch_in_partition,
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_type = 'purchase' AND value > 50
                     THEN value * 2 ELSE value END AS value
         FROM events WHERE event_type <> 'error'
         ORDER BY event_id"""),

    // r81: the AUTOMATIC projection rewrite must be answer-invariant —
    // same rollup expectation, computed from the original parquet; the
    // plan swap itself is require()d inside the gate
    Gate("r81_projection_auto", RefQueries.ch_projection_auto,
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                max(event_id) AS max_id
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // r79: a materialized projection must answer exactly what the base
    // table would — the oracle recomputes the per-user rollup from the
    // original parquet
    Gate("r79_projection", RefQueries.ch_projection,
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  AS BIGINT) AS purchases,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                max(event_id) AS max_id
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // r73: the z-ordered layout must be answer-invariant — both
    // probes recomputed from the original parquet; the decoded-row
    // bound (the skipping itself) is pinned by ZorderGateSpec
    Gate("r73_zorder_probe", RefQueries.zorder_probe,
      """SELECT probe, n, sv FROM (
           SELECT 'user' AS probe, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
           FROM events WHERE user_id = (SELECT max(user_id) FROM events)
           UNION ALL
           SELECT 'event' AS probe, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
           FROM events
           WHERE event_id <= (SELECT min(event_id) FROM events) + 999)
         ORDER BY probe"""),

    Gate("r07_status_anti_join", RefQueries.status_anti_join,
      """SELECT h FROM (SELECT DISTINCT CAST(strftime(ts,'%Y%m%d%H') AS BIGINT) AS h FROM events)
         WHERE h NOT IN (SELECT DISTINCT CAST(strftime(ts,'%Y%m%d%H') AS BIGINT)
                         FROM events WHERE event_type='error')
         ORDER BY h"""),

    Gate("r08_watermarks", RefQueries.watermarks,
      """SELECT e.user_id AS user_id, c.c_name AS name, min(e.ts) AS min_ed,
                arg_min(e.event_id, e.ts) AS first_id,
                arg_max(e.event_id, e.ts) AS last_id
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY e.user_id, c.c_name ORDER BY user_id"""),

    Gate("r09_dedup_replacing", RefQueries.dedup_replacing,
      """SELECT user_id, event_type,
                CAST(strftime(ts,'%Y%m') AS INTEGER) AS month_key,
                max(event_id) AS kept_id,
                arg_max(value, event_id) AS kept_value
         FROM events GROUP BY 1,2,3 ORDER BY user_id, event_type, month_key"""),

    Gate("r10_month_rollup", RefQueries.month_rollup,
      """SELECT CAST(strftime(ts,'%Y%m') AS INTEGER) AS month_key,
                count(*) AS cnt, count(DISTINCT user_id) AS users
         FROM events GROUP BY 1 ORDER BY month_key"""),

    Gate("r11_tpch_q1", RefQueries.tpch_q1,
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)/count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    Gate("r12_tpch_q3", RefQueries.tpch_q3,
      """SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           o_orderdate
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    Gate("r13_dim_join", RefQueries.dim_join,
      """SELECT r_name, n_name, count(s_suppkey) AS suppliers,
                coalesce(CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_bal
         FROM region JOIN nation ON n_regionkey = r_regionkey
         LEFT JOIN supplier ON s_nationkey = n_nationkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    Gate("r14_ch_sql", RefQueries.ch_sql_passthrough,
      """SELECT CAST(strftime(ts,'%Y%m') AS INTEGER) AS month_key,
                count(*) FILTER (WHERE event_type='error') AS errors,
                count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY month_key"""),

    Gate("r15_ch_sql_arrayjoin", RefQueries.ch_sql_arrayjoin,
      """SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
                count(*) AS cnt
         FROM events GROUP BY k ORDER BY k"""),

    // r16: DuckDB DESCRIBEs the same parquet; the only canonicalization
    // needed is two type-name spellings (VARCHAR→STRING and the
    // testdata's nanos timestamps, which Tables.load surfaces as
    // TIMESTAMP on the Spark side) — a fair normalization, not a
    // contrived bridge, so the former spec-only gate carries a full
    // rows+schema+hash oracle now
    Gate("r16_db_schema", RefQueries.db_schema,
      """SELECT column_name,
                CASE column_type
                  WHEN 'VARCHAR' THEN 'STRING'
                  WHEN 'TIMESTAMP_NS' THEN 'TIMESTAMP'
                  ELSE column_type END AS data_type
         FROM (DESCRIBE SELECT * FROM events)
         ORDER BY column_name"""),

    Gate("r17_param", RefQueries.param_query,
      """SELECT event_id, user_id, value AS amount FROM events
         WHERE event_type='purchase' AND value>100.0 ORDER BY event_id"""),

    Gate("r18_sessionize", RefQueries.sessionize,
      """WITH x AS (SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL OR epoch_us(ts)-epoch_us(prev_ts) > 28800000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
         z AS (SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM y)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end
         FROM z GROUP BY 1,2 ORDER BY user_id, session_idx"""),

    Gate("r20_quantiles", RefQueries.quantiles,
      """SELECT l_returnflag, count(*) AS n,
                CAST(round(CAST(quantile_cont(l_extendedprice, 0.25) AS DECIMAL(28,10)),4) AS DOUBLE) AS p25,
                CAST(round(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(28,10)),4) AS DOUBLE) AS p50,
                CAST(round(CAST(quantile_cont(l_extendedprice, 0.75) AS DECIMAL(28,10)),4) AS DOUBLE) AS p75,
                CAST(round(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(28,10)),4) AS DOUBLE) AS p95
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    Gate("r25_ch_dialect", RefQueries.ch_sql_dialect,
      """SELECT date_trunc('day', ts) AS day, CAST(isodow(ts) AS INTEGER) AS dow,
                CAST(count(DISTINCT user_id) AS INTEGER) AS users,
                CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors,
                max(event_id) AS max_id
         FROM events GROUP BY 1, 2 ORDER BY day"""),

    // r26: the HLL sketch is in exact coupon mode at this grain's
    // cardinality (~150 distinct per group << the lgK=12 promotion
    // threshold), so the estimate IS the exact distinct count and the
    // oracle can be plain count(DISTINCT); the spec additionally pins
    // the approximate regime's error bound at higher cardinality.
    Gate("r26_uniq_sketch", RefQueries.uniq_sketch,
      """SELECT event_type, count(DISTINCT user_id) AS uniq_users
         FROM events GROUP BY 1 ORDER BY event_type"""),

    // r27: DuckDB's date_diff counts partition boundaries like
    // ClickHouse's dateDiff; median == continuous-interpolation
    // percentile(0.5) == Spark's Percentile
    Gate("r27_ch_curried", RefQueries.ch_sql_curried,
      """SELECT event_type,
                median(CAST(user_id AS DOUBLE)) AS med_user,
                date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS span_days,
                count(*) AS c
         FROM events GROUP BY 1 ORDER BY event_type"""),

    // r30: merge-then-finalize must equal aggregate-once — the oracle
    // aggregates the whole table flat; uniq is in the sketch's exact
    // coupon regime at this cardinality
    Gate("r30_incr_rollup", RefQueries.incremental_rollup,
      """SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_v,
                round(CAST(min(value) AS DOUBLE), 4) AS min_v,
                round(CAST(max(value) AS DOUBLE), 4) AS max_v,
                round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                      / count(*), 4) AS avg_v,
                count(DISTINCT user_id) AS uniq
         FROM events GROUP BY 1 ORDER BY event_type"""),

    // r31: EXISTS over a correlated strictly-increasing chain
    Gate("r31_sequence_match", RefQueries.sequence_match,
      """SELECT u.user_id,
                EXISTS (SELECT 1 FROM events a
                        JOIN events b ON b.user_id = a.user_id
                          AND b.event_type = 'purchase' AND b.ts > a.ts
                        JOIN events c ON c.user_id = a.user_id
                          AND c.event_type = 'error' AND c.ts > b.ts
                        WHERE a.user_id = u.user_id
                          AND a.event_type = 'signup') AS matched
         FROM (SELECT DISTINCT user_id FROM events) u
         ORDER BY u.user_id"""),

    Gate("r32_moving_avg", RefQueries.moving_avg,
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                               count(*) AS n
                        FROM events GROUP BY 1, 2)
         SELECT event_type, day, n,
                round(CAST(sum(n) OVER w AS DOUBLE)
                      / count(*) OVER w, 4) AS ma7
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day"""),

    Gate("r35_ch_final", RefQueries.ch_final, finalOracleSql),

    // r71: the SAME expectation as r35 — FINAL over the bucketed
    // catalog table must be answer-invariant; the zero-hash-exchange
    // plan is pinned by PlanContractSpec + the fingerprint baseline
    Gate("r71_bucketed_final", RefQueries.ch_final_bucketed, finalOracleSql),

    Gate("r37_salted_skew", RefQueries.salted_skew_agg,
      """SELECT k, n, sum_v, max_id FROM (
           SELECT CASE WHEN event_id % 10 <> 0 THEN 'hot'
                       ELSE 'u' || CAST(user_id AS VARCHAR) END AS k,
                  count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
                  max(event_id) AS max_id
           FROM events GROUP BY 1)
         ORDER BY k"""),

    Gate("r38_ch_prewhere", RefQueries.ch_prewhere,
      """SELECT event_type, count(*) AS cnt, max(event_id) AS max_id
         FROM events
         WHERE value > 100 AND event_type <> 'error'
         GROUP BY event_type
         ORDER BY event_type"""),

    Gate("r39_ch_totals", RefQueries.ch_totals,
      """SELECT coalesce(event_type, 'TOTAL') AS et,
                count(*) AS cnt,
                max(event_id) AS max_id
         FROM events
         GROUP BY GROUPING SETS ((event_type), ())
         ORDER BY et"""),

    Gate("r40_ch_array_join", RefQueries.ch_array_join,
      """SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         WHERE tok <> ''
         GROUP BY tok
         ORDER BY cnt DESC, tok
         LIMIT 50"""),

    Gate("r41_ch_stats", RefQueries.ch_stats,
      """SELECT event_type,
                CAST(round(CAST(stddev_pop(value)  AS DECIMAL(28,10)), 4) AS DOUBLE) AS sd_p,
                CAST(round(CAST(stddev_samp(value) AS DECIMAL(28,10)), 4) AS DOUBLE) AS sd_s,
                CAST(round(CAST(var_pop(value)     AS DECIMAL(28,10)), 4) AS DOUBLE) AS var_p,
                CAST(round(CAST(var_samp(value)    AS DECIMAL(28,10)), 4) AS DOUBLE) AS var_s,
                CAST(round(CAST(covar_pop(value, CAST(user_id AS DOUBLE))  AS DECIMAL(28,10)), 4) AS DOUBLE) AS cov_p,
                CAST(round(CAST(covar_samp(value, CAST(user_id AS DOUBLE)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS cov_s,
                CAST(round(CAST(corr(value, CAST(user_id AS DOUBLE)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS cr,
                arg_max(user_id, event_id) FILTER (WHERE value >= 50) AS last_user
         FROM events
         GROUP BY event_type
         ORDER BY event_type"""),

    Gate("r42_ch_numbers", RefQueries.ch_numbers_spine,
      """SELECT r.range AS hod, coalesce(e.cnt, 0) AS cnt
         FROM range(24) AS r
         LEFT JOIN (SELECT hour(ts) AS h, count(*) AS cnt
                    FROM events GROUP BY 1) AS e
           ON r.range = e.h
         ORDER BY hod"""),

    Gate("r45_ch_summap", RefQueries.ch_summap,
      """SELECT CAST(strftime(ts, '%Y%m') AS INT) AS month,
                event_type AS k,
                CAST(round(CAST(sum(value) AS DECIMAL(18,2)), 2) AS DOUBLE) AS v
         FROM events
         GROUP BY 1, 2
         ORDER BY month, k"""),

    Gate("r44_ch_fill", RefQueries.ch_with_fill,
      """SELECT d AS day, e.cnt AS cnt
         FROM (SELECT unnest(range(TIMESTAMP '2023-12-29',
                                   TIMESTAMP '2024-02-02',
                                   INTERVAL 1 DAY)) AS d) f
         FULL JOIN (SELECT date_trunc('day', ts) AS d, count(*) AS cnt
                    FROM events GROUP BY 1) e USING (d)
         ORDER BY day"""),

    Gate("r43_ch_dict", RefQueries.ch_dict,
      """SELECT coalesce(n.n_name, '?') AS nation,
                count(*) AS cnt,
                CAST(round(CAST(sum(c_acctbal) AS DECIMAL(18,2)), 2) AS DOUBLE) AS bal
         FROM customer c
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1
         ORDER BY nation"""),

    Gate("r36_ch_limit_by", RefQueries.ch_limit_by,
      """SELECT user_id, event_id, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                            ORDER BY value DESC, event_id) AS rn
               FROM events) WHERE rn <= 2
         ORDER BY value DESC, event_id"""),

    Gate("r34_cube", RefQueries.cube_agg,
      """SELECT coalesce(event_type, 'ALL') AS event_type,
                coalesce(strftime(ts, '%Y%m'), 'ALL') AS month,
                count(*) AS n, count(DISTINCT user_id) AS users
         FROM events
         GROUP BY CUBE(event_type, strftime(ts, '%Y%m'))
         ORDER BY event_type, month"""),

    Gate("r33_set_ops", RefQueries.set_ops,
      """WITH p AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase'),
            e AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'error')
         SELECT 'purchase_and_error' AS tag, user_id
         FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
         UNION ALL
         SELECT 'purchase_only' AS tag, user_id
         FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
         ORDER BY tag, user_id"""),

    // r28: oracle is the PLAIN exact semi join — the bloom filter on
    // the Spark side only prunes and never changes the result
    Gate("r28_bloom_semijoin", RefQueries.bloom_semijoin,
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)
         GROUP BY 1 ORDER BY l_returnflag"""),

    // r29: greedy earliest-next chains via correlated min-subqueries —
    // exact for this operator (see Funnel scaladoc)
    Gate("r29_funnel", RefQueries.funnel,
      """WITH s1 AS (SELECT user_id, ts AS t1 FROM events
                     WHERE event_type = 'view'),
           s2 AS (SELECT s1.user_id, t1,
                    (SELECT min(ts) FROM events e
                     WHERE e.user_id = s1.user_id
                       AND e.event_type = 'click' AND e.ts >= s1.t1) AS t2
                  FROM s1),
           s3 AS (SELECT s2.user_id, t1, t2,
                    (SELECT min(ts) FROM events e
                     WHERE e.user_id = s2.user_id
                       AND e.event_type = 'purchase' AND e.ts >= s2.t2) AS t3
                  FROM s2),
           lv AS (SELECT user_id,
                    CASE
                      WHEN t2 IS NOT NULL
                           AND epoch(t2) - epoch(t1) <= 86400
                           AND t3 IS NOT NULL
                           AND epoch(t3) - epoch(t1) <= 86400 THEN 3
                      WHEN t2 IS NOT NULL
                           AND epoch(t2) - epoch(t1) <= 86400 THEN 2
                      ELSE 1
                    END AS lvl
                  FROM s3)
         SELECT u.user_id,
                CAST(coalesce(max(lv.lvl), 0) AS INTEGER) AS level
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN lv ON u.user_id = lv.user_id
         GROUP BY u.user_id ORDER BY u.user_id"""),

    // r49: identical oracle to r29 — the SQL-aggregate spelling of
    // the same funnel must agree with the relational operator
    Gate("r49_ch_funnel", RefQueries.ch_funnel_sql,
      """WITH s1 AS (SELECT user_id, ts AS t1 FROM events
                     WHERE event_type = 'view'),
           s2 AS (SELECT s1.user_id, t1,
                    (SELECT min(ts) FROM events e
                     WHERE e.user_id = s1.user_id
                       AND e.event_type = 'click' AND e.ts >= s1.t1) AS t2
                  FROM s1),
           s3 AS (SELECT s2.user_id, t1, t2,
                    (SELECT min(ts) FROM events e
                     WHERE e.user_id = s2.user_id
                       AND e.event_type = 'purchase' AND e.ts >= s2.t2) AS t3
                  FROM s2),
           lv AS (SELECT user_id,
                    CASE
                      WHEN t2 IS NOT NULL
                           AND epoch(t2) - epoch(t1) <= 86400
                           AND t3 IS NOT NULL
                           AND epoch(t3) - epoch(t1) <= 86400 THEN 3
                      WHEN t2 IS NOT NULL
                           AND epoch(t2) - epoch(t1) <= 86400 THEN 2
                      ELSE 1
                    END AS lvl
                  FROM s3)
         SELECT u.user_id,
                CAST(coalesce(max(lv.lvl), 0) AS INTEGER) AS level
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN lv ON u.user_id = lv.user_id
         GROUP BY u.user_id ORDER BY u.user_id"""),

    Gate("r24_range_join", RefQueries.range_join,
      """SELECT p.p_partkey AS p_partkey, count(*) AS n_in_band,
                CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem l JOIN part p
           ON p.p_retailprice - 50 <= l.l_extendedprice
          AND l.l_extendedprice < p.p_retailprice + 50
         GROUP BY 1 ORDER BY 1"""),

    Gate("r23_asof", RefQueries.asof_join,
      """SELECT e.user_id AS user_id, e.event_id AS event_id, e.ts AS ts,
                p.value AS asof_value, p.ts AS asof_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='click') e
         ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY event_id"""),

    // r46: identical semantics to r23 but the Spark side arrives as
    // verbatim ClickHouse ASOF JOIN text through ChSqlRewrite; the
    // oracle is DuckDB's native ASOF JOIN — two independent engines'
    // closest-match implementations must agree row-for-row.
    Gate("r46_ch_asof", RefQueries.ch_asof,
      """SELECT c.event_id AS event_id, c.user_id AS user_id, c.ts AS ts,
                p.value AS asof_value, p.ts AS asof_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='click') c
         ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY event_id"""),

    // r50: the scalar-WITH/paren-less-USING/LIMIT-offset tail, stated
    // in portable SQL (aliases expanded, LIMIT/OFFSET spelled out)
    Gate("r50_ch_dialect_tail", RefQueries.ch_dialect_tail,
      """SELECT user_id, count(*) AS n_big,
                CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS n_huge
         FROM events WHERE value > 50
         GROUP BY user_id ORDER BY user_id
         LIMIT 20 OFFSET 5"""),

    // r51: the JSONExtract family + bracket literals, portable form
    Gate("r51_ch_json", RefQueries.ch_json,
      """SELECT event_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                json_extract(props, '$.k') IS NOT NULL AS has_k,
                (event_type = 'click' OR event_type = 'view') AS is_cv
         FROM events
         WHERE json_extract(props, '$.k') IS NOT NULL
         ORDER BY event_id
         LIMIT 500"""),

    // r52/r53: the streaming gates' oracles are plain batch SQL — the
    // streaming run drains a static source with AvailableNow, so its
    // result must equal the one-shot aggregation/projection
    Gate("r52_stream_window", StreamingQueries.stream_window,
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
         FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),

    Gate("r53_stream_dedup", StreamingQueries.stream_dedup,
      """SELECT event_id, user_id, event_type
         FROM events ORDER BY event_id"""),

    // r62: restart-recovery dedup — the sink holds each event exactly
    // once IFF the second leg resumed the first leg's checkpoint
    // state (a cold restart would double every row)
    Gate("r62_stream_recovery", StreamingQueries.stream_recovery,
      """SELECT event_id, user_id, event_type
         FROM events ORDER BY event_id"""),

    // r63: watermarked dedup — survivors are the b1 first arrivals,
    // the two watermark pushers, and EVERY b4 re-arrival (outside the
    // 10-minute horizon, state evicted); the b2 within-horizon
    // duplicates are absent
    Gate("r63_stream_watermark_dedup", StreamingQueries.stream_watermark_dedup,
      """WITH ids AS (SELECT DISTINCT event_id FROM events
                      WHERE event_id < 100),
         rows_all AS (
           SELECT 'doc-' || CAST(event_id AS VARCHAR) AS doc_key,
                  TIMESTAMP '2024-01-01 00:00:00'
                    + to_seconds(CAST(event_id AS BIGINT)) AS ts
           FROM ids
           UNION ALL
           SELECT 'doc-' || CAST(event_id AS VARCHAR),
                  TIMESTAMP '2024-01-03 00:00:00'
                    + to_seconds(CAST(event_id AS BIGINT))
           FROM ids
           UNION ALL SELECT 'p1', TIMESTAMP '2024-01-02 00:00:00'
           UNION ALL SELECT 'p2', TIMESTAMP '2024-01-03 00:00:00')
         SELECT doc_key, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM rows_all ORDER BY doc_key, ts_s"""),

    // r56: the drained stream-static enrichment equals the batch
    // dim join + daily rollup
    Gate("r56_stream_enrich", StreamingQueries.stream_enrich,
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                CAST(c_nationkey AS INTEGER) AS nation_key,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2 ORDER BY day, nation_key"""),

    // r59: the drained stream-static ANTI join equals batch
    // decontamination — kept docs are those whose content hash is
    // absent from the doc_id%97 eval set
    Gate("r59_stream_decontam", StreamingQueries.stream_decontam,
      """SELECT source, count(*) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM documents
         WHERE md5(text) NOT IN
           (SELECT md5(text) FROM documents WHERE doc_id % 97 = 0)
         GROUP BY source ORDER BY source"""),

    // r61: the rollup is computed from the ORIGINAL parquet — a hash
    // match proves the month-partitioned ORC write→read round trip
    // is lossless
    Gate("r61_orc_roundtrip", RefQueries.orc_roundtrip,
      """SELECT CAST(strftime(ts, '%Y%m') AS INTEGER) AS month_key,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
                min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY 1 ORDER BY month_key"""),

    // r60: the drained streaming near-dup intake equals the d15
    // exhaustive cross-parity ground truth rolled up per batch doc
    Gate("r60_stream_neardup", StreamingQueries.stream_neardup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
                 count(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh
               WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
               GROUP BY 1, 2),
         v AS (SELECT batch_id, corpus_id
               FROM p JOIN sz sa ON sa.doc_id = batch_id
                      JOIN sz sb ON sb.doc_id = corpus_id
               WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
         SELECT batch_id AS doc_id, CAST(count(*) AS BIGINT) AS n_dups,
                CAST(sum(corpus_id) AS BIGINT) AS sum_ids
         FROM v GROUP BY 1 ORDER BY doc_id"""),

    // r57: drained streaming top-k sketch == exact per-day
    // (count DESC, item ASC) top-5 — sketch exact while unsaturated
    Gate("r57_stream_topk", StreamingQueries.stream_topk,
      """WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                           json_extract_string(props, '$.k') AS item,
                           count(*) AS est
                    FROM events GROUP BY 1, 2),
           r AS (SELECT day, item, est,
                   row_number() OVER (PARTITION BY day
                     ORDER BY est DESC, item ASC) AS rank
                 FROM c)
         SELECT day, CAST(rank AS INTEGER) AS rank, item, est
         FROM r WHERE rank <= 5 ORDER BY day, rank"""),

    // r58: drained streaming cell ingestion == batch assignment over
    // the same persisted s03 centroids (argmin squared-L2, ties to the
    // lower cluster id) rolled up to per-cell integer checksums
    Gate("r58_stream_ann_ingest", StreamingQueries.stream_ann_ingest,
      """WITH cc AS (SELECT cluster_id, centroid
           FROM '/tmp/graft_s03_centroids/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         celld AS (SELECT vec_id, cluster_id,
             list_sum(list_transform(list_zip(centroid, v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN cc),
         assigned AS (SELECT vec_id, cluster_id AS cell FROM celld
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) = 1)
         SELECT CAST(cell AS INTEGER) AS cell,
                count(*) AS n_vecs,
                CAST(sum(vec_id) AS BIGINT) AS sum_ids,
                min(vec_id) AS min_id, max(vec_id) AS max_id
         FROM assigned GROUP BY cell ORDER BY cell"""),

    // r54: the stream-stream interval join drains a finite source, so
    // the attribution pairs equal the batch self-join's
    Gate("r54_stream_join", StreamingQueries.stream_join,
      """SELECT c.user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                c.ts AS click_ts, p.ts AS purchase_ts
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
         ORDER BY c.user_id, click_id, purchase_id"""),

    // r55: batch sessions + the streaming EMISSION contract — a
    // non-final session was closed in-batch by a later event; a final
    // session emits iff its ms-floored timeout (last + 8h) lies
    // strictly before the final watermark (ms(max_ts) - 10 min).
    // Emitted timestamps are ms-truncated Timestamp state.
    Gate("r55_stream_sessionize", StreamingQueries.stream_sessionize,
      """WITH x AS (SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts)-epoch_us(prev_ts) > 28800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM x),
         z AS (SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM y),
         sess AS (SELECT user_id, session_idx,
                 date_trunc('milliseconds', min(ts)) AS session_start,
                 date_trunc('milliseconds', max(ts)) AS session_end,
                 count(*) AS n_events,
                 epoch_us(max(ts))//1000 AS end_ms
               FROM z GROUP BY 1,2),
         m AS (SELECT epoch_us(max(ts))//1000 AS wm_ms FROM events)
         SELECT user_id, session_start, session_end, n_events
         FROM (SELECT s.*,
                 max(session_idx) OVER (PARTITION BY user_id) AS max_idx
               FROM sess s), m
         WHERE session_idx < max_idx
            OR end_ms + 28800000 < wm_ms - 600000
         ORDER BY user_id, session_start"""),

    // r47: the mutated table's end state, stated declaratively — the
    // DELETE drops the error partition, the UPDATE doubles qualifying
    // purchase rows; everything else must round-trip untouched.
    Gate("r47_ch_mutation", RefQueries.ch_mutation,
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_type = 'purchase' AND value > 50
                     THEN value * 2 ELSE value END AS value
         FROM events WHERE event_type <> 'error'
         ORDER BY event_id"""),

    // r48: the materialized view's merged read must equal one direct
    // aggregation, regardless of how the inserts were split into blocks
    Gate("r48_ch_matview", RefQueries.ch_matview,
      """SELECT user_id, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
         FROM events GROUP BY user_id ORDER BY user_id"""),

    Gate("r21_rollup", RefQueries.rollup_subtotals,
      """SELECT event_type, month_key,
                CAST(grouping(event_type)*2 + grouping(month_key) AS INTEGER) AS lvl,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM (SELECT event_type,
                 CAST(strftime(ts,'%Y%m') AS INTEGER) AS month_key, value
               FROM events)
         GROUP BY ROLLUP(event_type, month_key)
         ORDER BY lvl, event_type ASC NULLS FIRST, month_key ASC NULLS FIRST"""),

    Gate("r22_window_rank", RefQueries.window_rank,
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
           FROM events GROUP BY 1,2),
         r AS (SELECT event_type, user_id, cnt,
             rank() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rnk,
             ntile(4) OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS qtile
           FROM c)
         SELECT event_type, user_id, cnt, rnk, qtile FROM r
         WHERE rnk <= 5 ORDER BY event_type, rnk"""),

    Gate("r19_retention", RefQueries.retention,
      """WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events)
         SELECT strftime(a.day, '%Y-%m-%d') AS day, count(*) AS active,
                count(b.user_id) AS retained
         FROM d a LEFT JOIN d b
           ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
         GROUP BY 1 ORDER BY day"""),

    Gate("g03_degree_topk", RefQueries.graph_degree_topk,
      """WITH e AS (SELECT user_id AS src,
             CAST(json_extract_string(props,'$.k') AS INTEGER)%10 AS dst,
             max(ts) AS updated_at, count(*) AS weight
           FROM events GROUP BY 1,2)
         SELECT src, CAST(sum(weight) AS BIGINT) AS out_weight,
                count(*) AS out_degree, max(updated_at) AS last_seen
         FROM e GROUP BY src ORDER BY out_weight DESC, src LIMIT 20"""),

    // g04: ε-banded pagerank gate (t10's pattern — integer/boolean
    // output only). The oracle re-runs the same 5-round power
    // iteration as an independent recursive CTE: every node carries a
    // zero-weight self-loop so sinks and source-only nodes survive the
    // per-iteration join+GROUP BY (a recursive term may reference the
    // CTE only once, so there is no second "nodes" leg to re-attach
    // them). rn compares the ORDERING on 6-dp-rounded ranks;
    // within_bound (fixed-point residual, Spark side) pins the VALUES.
    Gate("g04_pagerank", RefQueries.graph_pagerank,
      """WITH RECURSIVE
         edges AS (SELECT DISTINCT user_id AS src,
             CAST(CAST(json_extract_string(props,'$.k') AS INTEGER) % 10
                  AS BIGINT) AS dst
           FROM events),
         nodes AS (SELECT DISTINCT src AS id FROM edges
                   UNION SELECT DISTINCT dst FROM edges),
         outdeg AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY 1),
         ce AS (SELECT src, dst, 1.0 AS w FROM edges
                UNION ALL SELECT id, id, 0.0 FROM nodes),
         pr(iter, id, rank) AS (
           SELECT 0, id, CAST(1.0 AS DOUBLE) FROM nodes
           UNION ALL
           SELECT p.iter + 1, c.dst,
                  0.15 + 0.85 * sum(c.w * p.rank / coalesce(o.d, 1))
           FROM pr p JOIN ce c ON c.src = p.id
                LEFT JOIN outdeg o ON o.id = p.id
           WHERE p.iter < 5
           GROUP BY p.iter, c.dst)
         SELECT CAST(row_number() OVER
                  (ORDER BY round(rank, 6) DESC, id ASC) AS INTEGER) AS rn,
                id, true AS within_bound
         FROM pr WHERE iter = 5
         ORDER BY rn LIMIT 20"""),

    Gate("d06_containment", PipelineQueries.containment_pairs,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
         WHERE least(len(a.w), len(b.w)) > 0
           AND CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
               / least(len(a.w), len(b.w)) >= 0.9
         ORDER BY id_a, id_b"""),

    Gate("d07_decontaminate", PipelineQueries.decontaminate,
      """WITH d AS (SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, source, fp, list_distinct(toks) AS w,
             CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks)-3),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4])
               ELSE [] END AS grams
           FROM d),
         tg AS (SELECT DISTINCT train_id, gram FROM
           (SELECT doc_id AS train_id, unnest(grams) AS gram FROM g WHERE source <> 'src9')),
         eg AS (SELECT DISTINCT eval_id, gram FROM
           (SELECT doc_id AS eval_id, unnest(grams) AS gram FROM g WHERE source = 'src9')),
         cand AS (SELECT DISTINCT train_id, eval_id FROM tg JOIN eg USING (gram))
         SELECT c.train_id, c.eval_id,
                CAST(round(CAST(CAST(len(list_intersect(t.w, e.w)) AS DOUBLE)
                  / least(len(t.w), len(e.w)) AS DECIMAL(20,10)),4) AS DOUBLE) AS overlap,
                (t.fp = e.fp) AS is_exact
         FROM cand c
         JOIN g t ON t.doc_id = c.train_id
         JOIN g e ON e.doc_id = c.eval_id
         WHERE CAST(round(CAST(CAST(len(list_intersect(t.w, e.w)) AS DOUBLE)
                  / least(len(t.w), len(e.w)) AS DECIMAL(20,10)),4) AS DOUBLE) >= 0.8
            OR t.fp = e.fp
         ORDER BY train_id, eval_id"""),

    // d08: the synthesized crawl URLs vary only in junk (case, default
    // port, tracking params, param order, fragment, trailing slash)
    // within each doc_id%100 group — the oracle derives the canonical
    // string in CLOSED FORM, independently of the regex pipeline, so
    // any canonicalization bug breaks the group hash
    Gate("d08_url_dedup", PipelineQueries.url_dedup,
      """WITH d AS (SELECT doc_id,
             'https://www.site' || CAST(doc_id%10 AS VARCHAR)
               || '.com/Articles/' || CAST(doc_id%100 AS VARCHAR)
               || '?ref=' || CAST(doc_id%4 AS VARCHAR) AS canonical_url
           FROM documents)
         SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS dups
         FROM d GROUP BY canonical_url ORDER BY keep_id"""),

    Gate("g01_graph_nodes", RefQueries.graph_nodes,
      """SELECT user_id AS node_id, arg_max(event_type, ts) AS last_type,
                max(ts) AS updated_at, count(*) AS degree
         FROM events GROUP BY 1 ORDER BY node_id"""),

    Gate("g02_graph_edges", RefQueries.graph_edges,
      """SELECT user_id AS src,
                CAST(json_extract_string(props,'$.k') AS INTEGER)%10 AS dst,
                arg_max(event_type, ts) AS last_type, max(ts) AS updated_at,
                count(*) AS weight
         FROM events GROUP BY 1,2 ORDER BY src, dst"""),

    Gate("d01_exact_dedup", PipelineQueries.exact_dedup,
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups
         FROM documents GROUP BY h ORDER BY keep_id"""),

    Gate("d04_jaccard_pairs", PipelineQueries.jaccard_pairs,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
         WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
               / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6
         ORDER BY id_a, id_b"""),

    // d02/d03 recall gates: the oracle is the EXHAUSTIVE exact
    // shingle-Jaccard pair set at J >= 0.8 — distinct 5-char windows
    // of the lowercased text (the same windows ShingleHashSorted
    // hashes: all n-byte windows for len >= n, the whole string as
    // one window below that — the corpus is pure ASCII, so DuckDB's
    // char-indexed substr sees exactly Spark's byte windows), pair
    // intersections via an inverted shingle→doc join rather than an
    // O(N²) cross. The Spark side reaches the same set THROUGH the
    // LSH/SimHash candidate machinery, so a row mismatch means lost
    // recall, not formatting. Both emit (inter, un) as integers —
    // exact Jaccard pinned without any float in the compared output.
    Gate("d02_minhash_lsh", PipelineQueries.minhash_lsh_dedup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh AND b.doc_id > a.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
                CAST(sa.n + sb.n - inter AS INTEGER) AS un
         FROM p JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         ORDER BY id_a, id_b"""),

    // d16: the boilerplate-resistant variant — the oracle recomputes
    // the shingle document-frequency table, the top-64 stop set
    // (ties broken by shingle string, identical in both engines),
    // and the exhaustive exact-Jaccard ground truth over the FILTERED
    // shingle sets from scratch. A row mismatch means the Spark side's
    // DF pass, stop-set pick, hash-level filter, or banded recall
    // diverged.
    Gate("d16_stop_shingle", PipelineQueries.stop_shingle_neardup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         stop AS (SELECT sh FROM s GROUP BY sh
                  ORDER BY count(*) DESC, sh LIMIT 64),
         k AS (SELECT doc_id, sh FROM s WHERE sh NOT IN (SELECT sh FROM stop)),
         sz AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM k a JOIN k b ON a.sh = b.sh AND b.doc_id > a.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
                CAST(sa.n + sb.n - inter AS INTEGER) AS un
         FROM p JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         ORDER BY id_a, id_b"""),

    // d17: exhaustive corpus-wide Levenshtein ground truth — the
    // |Δlen| ≤ k prefilter is a true invariant of edit distance ≤ k
    // (lossless), so the blocked Spark pair set must equal this
    // full ≤ 16 set exactly
    Gate("d17_edit_distance", PipelineQueries.edit_distance_neardup,
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
         FROM documents a JOIN documents b
           ON b.doc_id > a.doc_id
          AND abs(length(b.text) - length(a.text)) <= 16
         WHERE levenshtein(a.text, b.text) <= 16
         ORDER BY id_a, id_b"""),

    // d18: SAME exhaustive ground truth as d17 — the composed
    // (MinHash-band × length-filter) blocking must reach the identical
    // corpus-wide Levenshtein ≤ 16 pair set, proving the lossy content
    // key loses nothing on this corpus (recall-gate, d02 discipline)
    Gate("d18_edit_blocked", PipelineQueries.edit_distance_blocked,
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
         FROM documents a JOIN documents b
           ON b.doc_id > a.doc_id
          AND abs(length(b.text) - length(a.text)) <= 16
         WHERE levenshtein(a.text, b.text) <= 16
         ORDER BY id_a, id_b"""),

    // d19: the t20 gaps-and-islands recipe at CHARACTER level — zip
    // positions with window md5s, keep hashes spanning >= 2 docs,
    // merge consecutive starts per doc into maximal spans
    Gate("d19_exact_substrings", PipelineQueries.exact_substrings,
      """WITH w AS (SELECT doc_id,
             unnest(range(CAST(length(text)-39 AS BIGINT))) AS i,
             unnest(list_transform(range(CAST(length(text)-39 AS BIGINT)),
               i -> md5(substr(text, CAST(i+1 AS INTEGER), 40)))) AS g
           FROM documents
           WHERE length(text) >= 40 AND strlen(text) = length(text)),
         shared AS (SELECT g FROM w GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, i+1 AS i FROM w
           WHERE g IN (SELECT g FROM shared)),
         isl AS (SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
           FROM hits)
         SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
                CAST(count(*) + 39 AS BIGINT) AS span_len
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start"""),

    // d20: replays the cut relationally — min-doc window ownership,
    // islands, interval union via running max, then a gap-row splice
    // (string_agg of the kept segments ordered by position) instead
    // of Spark's ordered fold; all integer arithmetic, engine-exact
    Gate("d20_exact_substr_cut", PipelineQueries.exact_substr_cut,
      """WITH w AS (SELECT doc_id,
             unnest(range(CAST(length(text)-39 AS BIGINT))) AS i,
             unnest(list_transform(range(CAST(length(text)-39 AS BIGINT)),
               i -> md5(substr(text, CAST(i+1 AS INTEGER), 40)))) AS g
           FROM documents
           WHERE length(text) >= 40 AND strlen(text) = length(text)),
         own AS (SELECT g, min(doc_id) AS own FROM w GROUP BY g),
         cut AS (SELECT w.doc_id, w.i+1 AS i FROM w JOIN own USING (g)
           WHERE w.doc_id > own.own),
         isl AS (SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
           FROM cut),
         sp AS (SELECT doc_id, min(i) AS a, max(i) + 39 AS b
           FROM isl GROUP BY doc_id, island),
         m0 AS (SELECT doc_id, a, b, max(b) OVER (PARTITION BY doc_id
             ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM sp),
         m1 AS (SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS brk
           FROM m0),
         m2 AS (SELECT doc_id, a, b, sum(brk) OVER (PARTITION BY doc_id
             ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM m1),
         iv AS (SELECT doc_id, min(a) AS a, max(b) AS b
           FROM m2 GROUP BY doc_id, grp),
         seg AS (SELECT doc_id,
             coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY a), 0) + 1 AS s,
             a - 1 AS e FROM iv
           UNION ALL
           SELECT iv.doc_id, max(iv.b) + 1 AS s, max(length(d.text)) AS e
           FROM iv JOIN documents d USING (doc_id) GROUP BY iv.doc_id),
         agg AS (SELECT seg.doc_id,
             string_agg(CASE WHEN e >= s THEN
               substr(d.text, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER))
               ELSE '' END, '' ORDER BY s) AS clean
           FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id),
         cc AS (SELECT doc_id, CAST(sum(b - a + 1) AS BIGINT) AS cut_chars
           FROM iv GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.clean, d.text) AS clean_text,
                coalesce(cc.cut_chars, 0) AS cut_chars
         FROM documents d LEFT JOIN agg USING (doc_id)
           LEFT JOIN cc USING (doc_id)
         ORDER BY d.doc_id"""),

    // d13: same exhaustive exact ground truth as d02/d03 — the THIRD
    // independent candidate generator (densified OPH) must lose no
    // J >= 0.8 pair either
    Gate("d13_oph_lsh", PipelineQueries.oph_lsh_dedup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh AND b.doc_id > a.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
                CAST(sa.n + sb.n - inter AS INTEGER) AS un
         FROM p JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         ORDER BY id_a, id_b"""),

    Gate("d03_simhash", PipelineQueries.simhash_dedup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh AND b.doc_id > a.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
                CAST(sa.n + sb.n - inter AS INTEGER) AS un
         FROM p JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         ORDER BY id_a, id_b"""),

    // g05: same edge definition as d04, closed into triangles; the
    // Spark side's degree orientation is count-invariant
    Gate("g05_triangles", PipelineQueries.neardup_triangles,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
               WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                     / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         t AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
               FROM e e1 JOIN e e2 ON e2.id_a = e1.id_b
               JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
         SELECT CAST(count(*) AS BIGINT) AS n_triangles,
                CAST((SELECT count(DISTINCT x) FROM
                       (SELECT a AS x FROM t UNION ALL SELECT b FROM t
                        UNION ALL SELECT c FROM t)) AS BIGINT)
                  AS nodes_in_triangles
         FROM t"""),

    Gate("d05_embedding_neardup", PipelineQueries.embedding_neardup,
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_inner_product(a.v,b.v)
               / (sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(b.v,b.v))) >= 0.35
         ORDER BY id_a, id_b"""),

    Gate("p01_clean_corpus", PipelineQueries.clean_corpus,
      s"""WITH sw(sw_lang, sw_word) AS (VALUES ${graft.functions.TextFunctions.stopwords
             .map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\\s+')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, sw_lang, count(*) AS hits
           FROM tok JOIN sw ON tok = sw_word GROUP BY 1,2),
         best AS (SELECT doc_id, sw_lang FROM hits
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, sw_lang) = 1),
         lang AS (SELECT d.doc_id, coalesce(b.sw_lang,'und') AS pred_lang
           FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id),
         f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\\s]','','g')) AS punct,
             length(regexp_replace(text,'\\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id, n_chars_m,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f),
         q AS (SELECT doc_id,
             CAST(round(CAST(0.5*stop_r + 0.3*(1.0-punct_r)
                   + 0.2*least(avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4) AS DOUBLE) AS quality_score
           FROM g)
         SELECT min(d.doc_id) AS keep_id, count(*) AS dups
         FROM documents d
         JOIN lang l ON d.doc_id = l.doc_id
         JOIN q ON d.doc_id = q.doc_id
         WHERE l.pred_lang = 'en' AND q.quality_score >= 0.42
         GROUP BY md5(d.text)
         ORDER BY keep_id"""),

    // p10: the composed pipeline — p01's clean CTEs, p09's chunk
    // arithmetic, p03's packing window, chained
    Gate("p10_pipeline", PipelineQueries.pipeline_end_to_end,
      s"""WITH sw(sw_lang, sw_word) AS (VALUES ${graft.functions.TextFunctions.stopwords
             .map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\\s+')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, sw_lang, count(*) AS hits
           FROM tok JOIN sw ON tok = sw_word GROUP BY 1,2),
         best AS (SELECT doc_id, sw_lang FROM hits
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, sw_lang) = 1),
         lang AS (SELECT d.doc_id, coalesce(b.sw_lang,'und') AS pred_lang
           FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id),
         f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\\s]','','g')) AS punct,
             length(regexp_replace(text,'\\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id, n_chars_m,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f),
         q AS (SELECT doc_id,
             CAST(round(CAST(0.5*stop_r + 0.3*(1.0-punct_r)
                   + 0.2*least(avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4) AS DOUBLE) AS quality_score
           FROM g),
         survivors AS (SELECT min(d.doc_id) AS doc_id
           FROM documents d
           JOIN lang l ON d.doc_id = l.doc_id
           JOIN q ON d.doc_id = q.doc_id
           WHERE l.pred_lang = 'en' AND q.quality_score >= 0.42
           GROUP BY md5(d.text)),
         t AS (SELECT d.doc_id,
             regexp_split_to_array(trim(lower(d.text)),'\\s+') AS toks
           FROM documents d JOIN survivors s ON d.doc_id = s.doc_id),
         c AS (SELECT doc_id, toks, len(toks) AS n,
             unnest(range((len(toks)-1)//48 + 1)) AS ci
           FROM t),
         ch AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
             CAST(least(ci*48 + 64, n) - ci*48 AS BIGINT) AS n_toks
           FROM c)
         SELECT doc_id, chunk_idx, n_toks,
                CAST(sum(n_toks) OVER (ORDER BY doc_id, chunk_idx
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                CAST(floor((sum(n_toks) OVER (ORDER BY doc_id, chunk_idx
                  ROWS UNBOUNDED PRECEDING) - n_toks) / 2048.0) AS BIGINT)
                  AS shard_id
         FROM ch ORDER BY doc_id, chunk_idx"""),

    Gate("p02_neardup_groups", PipelineQueries.neardup_groups,
      """WITH RECURSIVE
         d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(src, node) AS (
           SELECT src, src FROM (SELECT DISTINCT src FROM edges)
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)
         SELECT src AS doc_id, min(node) AS comp
         FROM reach GROUP BY src ORDER BY doc_id"""),

    // p12: unbiased duplicate downweighting — probes the persisted
    // p02 component map, then an integer-exact md5 coin
    // (u32·|comp| < 2^32 keeps with probability 1/|comp|); the hex
    // parse is a strpos fold
    Gate("p12_soft_dedup", PipelineQueries.soft_dedup,
      """WITH
         cc AS (SELECT doc_id, comp
                FROM '/tmp/graft_p02_components/sf0.01/*.parquet'),
         a AS (SELECT doc.doc_id, coalesce(cc.comp, doc.doc_id) AS comp
           FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id),
         sz AS (SELECT comp, count(*) AS csize FROM a GROUP BY comp),
         u AS (SELECT a.doc_id, a.comp, sz.csize,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(a.doc_id AS VARCHAR)),
                   CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) AS u32
           FROM a JOIN sz ON a.comp = sz.comp)
         SELECT doc_id, comp, csize,
                u32 * csize < 4294967296 AS kept
         FROM u ORDER BY doc_id"""),

    // g07: 3 unrolled rounds of the k=2 peel over the same verified-
    // Jaccard edge list as p02/g05/g06; survivors with final degree
    Gate("g07_kcore", PipelineQueries.kcore,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         e0 AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
         k0 AS (SELECT src AS node FROM e0 GROUP BY src
                HAVING count(*) >= 2),
         e1 AS (SELECT e.src, e.dst FROM e0 e
                JOIN k0 a ON e.src = a.node JOIN k0 b ON e.dst = b.node),
         k1 AS (SELECT src AS node FROM e1 GROUP BY src
                HAVING count(*) >= 2),
         e2 AS (SELECT e.src, e.dst FROM e1 e
                JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node),
         k2 AS (SELECT src AS node FROM e2 GROUP BY src
                HAVING count(*) >= 2),
         e3 AS (SELECT e.src, e.dst FROM e2 e
                JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node)
         SELECT src AS node_id, count(*) AS degree
         FROM e3 GROUP BY src ORDER BY node_id"""),

    // d11: representative election over the p02 component structure —
    // probes the PERSISTED component map (the artifact p02's build
    // path writes and its own oracle re-derives relationally) + the
    // t02 quality arithmetic, election by (quantized score DESC,
    // doc_id ASC); singletons keep themselves
    Gate("d11_keep_best", PipelineQueries.neardup_keep_best,
      """WITH
         cc AS (SELECT doc_id, comp
                FROM '/tmp/graft_p02_components/sf0.01/*.parquet'),
         f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\s]','','g')) AS punct,
             length(regexp_replace(text,'\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f),
         q AS (SELECT doc_id,
             CAST(floor(CAST(round(CAST(0.5*stop_r + 0.3*(1.0-punct_r)
                    + 0.2*least(avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4)
                  AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qi
           FROM g),
         a AS (SELECT doc.doc_id, coalesce(cc.comp, doc.doc_id) AS comp, q.qi
           FROM documents doc
           JOIN q ON doc.doc_id = q.doc_id
           LEFT JOIN cc ON doc.doc_id = cc.doc_id),
         e AS (SELECT comp, doc_id AS kept_doc,
             row_number() OVER (PARTITION BY comp
               ORDER BY qi DESC, doc_id ASC) AS rn
           FROM a)
         SELECT a.doc_id, a.comp, e.kept_doc,
                a.doc_id = e.kept_doc AS kept
         FROM a JOIN (SELECT comp, kept_doc FROM e WHERE rn = 1) e
           ON a.comp = e.comp
         ORDER BY a.doc_id"""),

    // d09: SemDeDup replay — d09's own persisted 32-cell centroids
    // (s03-style index-build artifact), the same assignment arithmetic,
    // then the intra-cell lower-id cosine threshold; outputs are all
    // integers (ids + cell), so no float formatting risk
    Gate("d09_semantic_dedup", PipelineQueries.semantic_dedup,
      """WITH c AS (SELECT cluster_id, centroid
           FROM '/tmp/graft_d09_centroids/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dist AS (SELECT vec_id, v, cluster_id,
             list_sum(list_transform(list_zip(centroid, v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN c),
         assigned AS (SELECT vec_id, v, cluster_id AS cell FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) = 1)
         SELECT b.vec_id AS drop_id, min(a.vec_id) AS witness_id,
                min(a.cell) AS cell
         FROM assigned a JOIN assigned b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE list_inner_product(a.v,b.v)
               / (sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(b.v,b.v))) >= 0.35
         GROUP BY b.vec_id ORDER BY drop_id"""),

    // s06: recall@10 of the label-blocked IVF vs exact — the s01 and
    // s02 oracles composed, reduced to integer hit counts per query
    Gate("s06_ann_recall", PipelineQueries.ann_recall,
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label, v AS qv
               FROM e WHERE vec_id < 10),
         exsc AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q CROSS JOIN e WHERE e.vec_id != query_id),
         ex AS (SELECT query_id, neighbor_id FROM exsc
           QUALIFY row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10),
         ivsc AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q JOIN e ON e.label = q.label AND e.vec_id != query_id),
         iv AS (SELECT query_id, neighbor_id FROM ivsc
           QUALIFY row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10),
         h AS (SELECT ex.query_id, count(*) AS n_hits
               FROM ex JOIN iv USING (query_id, neighbor_id) GROUP BY 1)
         SELECT q.query_id AS query_id, CAST(10 AS BIGINT) AS n_exact,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
         FROM q LEFT JOIN h ON h.query_id = q.query_id
         ORDER BY q.query_id"""),

    // s07: the combined IVF-PQ probe — the s03 assignment CTEs (cells +
    // 2-probe selection from the persisted coarse centroids) glued to
    // the s05 ADC CTEs (codes + distance tables from the persisted
    // codebook); candidates are rows whose cell is probed by the query
    Gate("s07_ivf_pq", PipelineQueries.pq_ivf_adc,
      """WITH cc AS (SELECT cluster_id, centroid
           FROM '/tmp/graft_s03_centroids/sf0.01/*.parquet'),
         pc AS (SELECT sub_idx, cluster_id, centroid
           FROM '/tmp/graft_s04_pq/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         celld AS (SELECT vec_id, cluster_id,
             list_sum(list_transform(list_zip(centroid, v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN cc),
         assigned AS (SELECT vec_id, cluster_id AS cell FROM celld
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) = 1),
         qprobe AS (SELECT vec_id AS query_id, cluster_id AS cell
           FROM celld WHERE vec_id < 10
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) <= 2),
         dist AS (SELECT vec_id, sub_idx, cluster_id,
             list_sum(list_transform(
               list_zip(centroid, v[sub_idx*8+1 : sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN pc),
         codes AS (SELECT vec_id, sub_idx, cluster_id FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id, sub_idx ORDER BY d2, cluster_id) = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         dt AS (SELECT q.query_id, pc.sub_idx, pc.cluster_id,
             list_sum(list_transform(
               list_zip(pc.centroid, q.qv[pc.sub_idx*8+1 : pc.sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
           FROM q CROSS JOIN pc),
         cand AS (SELECT qprobe.query_id, assigned.vec_id
           FROM qprobe JOIN assigned ON assigned.cell = qprobe.cell
           WHERE assigned.vec_id != qprobe.query_id),
         adc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
             list_sum(list(dq ORDER BY dt.sub_idx)) AS adc
           FROM codes
           JOIN cand ON cand.vec_id = codes.vec_id
           JOIN dt ON dt.query_id = cand.query_id
                  AND dt.sub_idx = codes.sub_idx
                  AND dt.cluster_id = codes.cluster_id
           GROUP BY 1, 2)
         SELECT query_id,
                CAST(row_number() OVER
                  (PARTITION BY query_id ORDER BY adc, neighbor_id)
                  AS INTEGER) AS rank,
                neighbor_id
         FROM adc
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s09: s07's ADC CTEs shortlist 30, then the s01-style exact
    // cosine rerank cuts the final 10
    Gate("s09_ann_rerank", PipelineQueries.pq_ivf_rerank,
      """WITH cc AS (SELECT cluster_id, centroid
           FROM '/tmp/graft_s03_centroids/sf0.01/*.parquet'),
         pc AS (SELECT sub_idx, cluster_id, centroid
           FROM '/tmp/graft_s04_pq/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         celld AS (SELECT vec_id, cluster_id,
             list_sum(list_transform(list_zip(centroid, v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN cc),
         assigned AS (SELECT vec_id, cluster_id AS cell FROM celld
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) = 1),
         qprobe AS (SELECT vec_id AS query_id, cluster_id AS cell
           FROM celld WHERE vec_id < 10
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) <= 2),
         dist AS (SELECT vec_id, sub_idx, cluster_id,
             list_sum(list_transform(
               list_zip(centroid, v[sub_idx*8+1 : sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN pc),
         codes AS (SELECT vec_id, sub_idx, cluster_id FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id, sub_idx ORDER BY d2, cluster_id) = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         dt AS (SELECT q.query_id, pc.sub_idx, pc.cluster_id,
             list_sum(list_transform(
               list_zip(pc.centroid, q.qv[pc.sub_idx*8+1 : pc.sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
           FROM q CROSS JOIN pc),
         cand AS (SELECT qprobe.query_id, assigned.vec_id
           FROM qprobe JOIN assigned ON assigned.cell = qprobe.cell
           WHERE assigned.vec_id != qprobe.query_id),
         adc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
             list_sum(list(dq ORDER BY dt.sub_idx)) AS adc
           FROM codes
           JOIN cand ON cand.vec_id = codes.vec_id
           JOIN dt ON dt.query_id = cand.query_id
                  AND dt.sub_idx = codes.sub_idx
                  AND dt.cluster_id = codes.cluster_id
           GROUP BY 1, 2),
         shortlist AS (SELECT query_id, neighbor_id FROM adc
           QUALIFY row_number() OVER
             (PARTITION BY query_id ORDER BY adc, neighbor_id) <= 30),
         rer AS (SELECT s.query_id, s.neighbor_id,
             list_inner_product(qe.v, ne.v)
               / (sqrt(list_inner_product(qe.v,qe.v))
                  * sqrt(list_inner_product(ne.v,ne.v))) AS cos
           FROM shortlist s
           JOIN e qe ON qe.vec_id = s.query_id
           JOIN e ne ON ne.vec_id = s.neighbor_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM rer
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    Gate("s01_ann_topk", PipelineQueries.ann_topk,
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q CROSS JOIN e WHERE e.vec_id != query_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s10: int8 scalar quantization — unit vector, per-row symmetric
    // codes round(u*127/maxAbs), integer dots rescaled by the two
    // per-row scales; rank-only output so no float ever hashes
    Gate("s10_sq8_topk", PipelineQueries.sq8_topk,
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
                 sqrt(list_inner_product(v, v)) AS nrm FROM e),
         u AS (SELECT vec_id,
                 CASE WHEN nrm = 0 THEN v
                      ELSE list_transform(v, x -> x / nrm) END AS uv
               FROM n),
         m AS (SELECT vec_id, uv,
                 list_max(list_transform(uv, x -> abs(x))) AS ma FROM u),
         q8 AS (SELECT vec_id,
                 CASE WHEN ma = 0 THEN list_transform(uv, x -> 0)
                      ELSE list_transform(uv,
                        x -> CAST(round(x * 127.0 / ma) AS INTEGER)) END AS c,
                 ma / 127.0 AS sc
               FROM m),
         scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 (CAST(list_inner_product(q.c, c.c) AS DOUBLE) * q.sc)
                   * c.sc AS cos
               FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
               WHERE q.vec_id < 10)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s08: banded hyperplane LSH — DuckDB regenerates the md5-derived
    // ±1 planes, the exact-integer sign projections over the
    // micro-quantized vectors (floor(x·1e6+0.5): integer sums can
    // never drift between engines), the 4×4-bit band buckets, the
    // OR-of-bands candidate union, and the s01-style cosine top-k cut
    Gate("s08_ann_lsh", PipelineQueries.ann_lsh,
      """WITH planes AS (
             SELECT j, list(CASE WHEN substr(md5('lsh_'||j||'_'||k),1,1) < '8'
                                 THEN 1 ELSE -1 END ORDER BY k) AS s
             FROM range(16) t(j) CROSS JOIN range(64) u(k) GROUP BY j),
         e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS iv
               FROM embeddings),
         sigs AS (SELECT vec_id,
                 CAST(sum(CASE WHEN list_inner_product(s, iv) >= 0
                               THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                               ELSE 0 END) AS BIGINT) AS sig
               FROM e CROSS JOIN planes GROUP BY vec_id),
         bb AS (SELECT vec_id, b, (sig >> CAST(4*b AS INTEGER)) & 15 AS bucket
               FROM sigs CROSS JOIN range(4) r(b)),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
               FROM bb q JOIN bb c ON q.b = c.b AND q.bucket = c.bucket
               WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
         scored AS (SELECT query_id, neighbor_id,
                 list_inner_product(qe.v, ne.v)
                   / (sqrt(list_inner_product(qe.v,qe.v))
                      * sqrt(list_inner_product(ne.v,ne.v))) AS cos
               FROM cand
               JOIN e qe ON qe.vec_id = query_id
               JOIN e ne ON ne.vec_id = neighbor_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s15: the multi-probe replay — 4-bit integer SRP signatures (the
    // s08 plane/quantization recipe), probe set = own cell ∪ the 4
    // Hamming-1 cells, exact cosine top-10 of the candidate union
    Gate("s15_ann_multiprobe", PipelineQueries.ann_multiprobe,
      """WITH planes AS (
             SELECT j, list(CASE WHEN substr(md5('lsh_'||j||'_'||k),1,1) < '8'
                                 THEN 1 ELSE -1 END ORDER BY k) AS s
             FROM range(4) t(j) CROSS JOIN range(64) u(k) GROUP BY j),
         e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS iv
               FROM embeddings),
         sigs AS (SELECT vec_id,
                 CAST(sum(CASE WHEN list_inner_product(s, iv) >= 0
                               THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                               ELSE 0 END) AS BIGINT) AS sig
               FROM e CROSS JOIN planes GROUP BY vec_id),
         probes AS (SELECT vec_id AS query_id, sig AS cell
               FROM sigs WHERE vec_id < 10
             UNION
             SELECT vec_id,
                 CAST(xor(sig, CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS BIGINT)
               FROM sigs CROSS JOIN range(4) r(b) WHERE vec_id < 10),
         cand AS (SELECT p.query_id, c.vec_id AS neighbor_id
               FROM probes p JOIN sigs c ON c.sig = p.cell
               WHERE c.vec_id != p.query_id),
         scored AS (SELECT query_id, neighbor_id,
                 list_inner_product(qe.v, ne.v)
                   / (sqrt(list_inner_product(qe.v,qe.v))
                      * sqrt(list_inner_product(ne.v,ne.v))) AS cos
               FROM cand
               JOIN e qe ON qe.vec_id = query_id
               JOIN e ne ON ne.vec_id = neighbor_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s16: the full recall measurement replayed — exact brute-force
    // top-10 (s01's CTEs) intersected with the s15 multi-probe top-10
    Gate("s16_multiprobe_recall", PipelineQueries.multiprobe_recall,
      """WITH planes AS (
             SELECT j, list(CASE WHEN substr(md5('lsh_'||j||'_'||k),1,1) < '8'
                                 THEN 1 ELSE -1 END ORDER BY k) AS s
             FROM range(4) t(j) CROSS JOIN range(64) u(k) GROUP BY j),
         e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS iv
               FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv
               FROM e WHERE vec_id < 10),
         exsc AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q CROSS JOIN e WHERE e.vec_id != query_id),
         ex AS (SELECT query_id, neighbor_id FROM exsc
           QUALIFY row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10),
         sigs AS (SELECT vec_id,
                 CAST(sum(CASE WHEN list_inner_product(s, iv) >= 0
                               THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                               ELSE 0 END) AS BIGINT) AS sig
               FROM e CROSS JOIN planes GROUP BY vec_id),
         probes AS (SELECT vec_id AS query_id, sig AS cell
               FROM sigs WHERE vec_id < 10
             UNION
             SELECT vec_id,
                 CAST(xor(sig, CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS BIGINT)
               FROM sigs CROSS JOIN range(4) r(b) WHERE vec_id < 10),
         cand AS (SELECT p.query_id, c.vec_id AS neighbor_id
               FROM probes p JOIN sigs c ON c.sig = p.cell
               WHERE c.vec_id != p.query_id),
         mpsc AS (SELECT cand.query_id, cand.neighbor_id,
             list_inner_product(qe.v, ne.v)
               / (sqrt(list_inner_product(qe.v,qe.v))
                  * sqrt(list_inner_product(ne.v,ne.v))) AS cos
           FROM cand
           JOIN e qe ON qe.vec_id = cand.query_id
           JOIN e ne ON ne.vec_id = cand.neighbor_id),
         mp AS (SELECT query_id, neighbor_id FROM mpsc
           QUALIFY row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10),
         h AS (SELECT ex.query_id, count(*) AS n_hits
               FROM ex JOIN mp USING (query_id, neighbor_id) GROUP BY 1)
         SELECT q.query_id AS query_id, CAST(10 AS BIGINT) AS n_exact,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
         FROM q LEFT JOIN h ON h.query_id = q.query_id
         ORDER BY q.query_id"""),

    // s02: single-probe label-blocked IVF is EXACT within the block
    // (it scans the query's whole bucket), so the full top-k oracle
    // applies — same cosine + (cos DESC, id ASC) cut as s01, but the
    // scored set restricted to the query's label
    // s12: MMR unrolled — quantized cosines (floor(cos·1e6+0.5)) make
    // every greedy comparison integer-exact; each step picks
    // max(0.7·cq − (1−0.7)·max-sim-to-selected), ties to smaller id.
    // (1 - 0.7), NOT 0.3: the Spark side computes 1.0−λ in doubles
    // and 1−0.7 ≠ 0.3 exactly, so the oracle must spell it the same
    Gate("s12_mmr_rerank", PipelineQueries.mmr_rerank,
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS nid,
             CAST(floor(list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v)))
               * 1000000 + 0.5) AS BIGINT) AS cq
           FROM q JOIN e ON e.vec_id != query_id),
         sl AS (SELECT query_id, nid, cq FROM scored
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY cq DESC, nid) <= 10),
         ps AS (SELECT a.query_id, a.nid AS i, b.nid AS j,
             CAST(floor(list_inner_product(ea.v,eb.v)
               / (sqrt(list_inner_product(ea.v,ea.v))*sqrt(list_inner_product(eb.v,eb.v)))
               * 1000000 + 0.5) AS BIGINT) AS sq
           FROM sl a JOIN sl b
             ON a.query_id = b.query_id AND a.nid <> b.nid
           JOIN e ea ON ea.vec_id = a.nid
           JOIN e eb ON eb.vec_id = b.nid),
         s1 AS (SELECT query_id, nid FROM sl
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY cq DESC, nid) = 1),
         c2 AS (SELECT sl.query_id, sl.nid, sl.cq, max(ps.sq) AS pen
           FROM sl JOIN s1 ON s1.query_id = sl.query_id
           JOIN ps ON ps.query_id = sl.query_id AND ps.i = sl.nid
             AND ps.j = s1.nid
           WHERE sl.nid <> s1.nid GROUP BY 1,2,3),
         s2 AS (SELECT query_id, nid FROM c2
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY 0.7*cq - (1 - 0.7)*pen DESC, nid) = 1),
         sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
         c3 AS (SELECT sl.query_id, sl.nid, sl.cq, max(ps.sq) AS pen
           FROM sl
           JOIN ps ON ps.query_id = sl.query_id AND ps.i = sl.nid
           JOIN sel2 sp ON sp.query_id = sl.query_id AND sp.nid = ps.j
           WHERE NOT EXISTS (SELECT 1 FROM sel2 x
             WHERE x.query_id = sl.query_id AND x.nid = sl.nid)
           GROUP BY 1,2,3),
         s3 AS (SELECT query_id, nid FROM c3
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY 0.7*cq - (1 - 0.7)*pen DESC, nid) = 1),
         sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM s3),
         c4 AS (SELECT sl.query_id, sl.nid, sl.cq, max(ps.sq) AS pen
           FROM sl
           JOIN ps ON ps.query_id = sl.query_id AND ps.i = sl.nid
           JOIN sel3 sp ON sp.query_id = sl.query_id AND sp.nid = ps.j
           WHERE NOT EXISTS (SELECT 1 FROM sel3 x
             WHERE x.query_id = sl.query_id AND x.nid = sl.nid)
           GROUP BY 1,2,3),
         s4 AS (SELECT query_id, nid FROM c4
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY 0.7*cq - (1 - 0.7)*pen DESC, nid) = 1),
         sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM s4),
         c5 AS (SELECT sl.query_id, sl.nid, sl.cq, max(ps.sq) AS pen
           FROM sl
           JOIN ps ON ps.query_id = sl.query_id AND ps.i = sl.nid
           JOIN sel4 sp ON sp.query_id = sl.query_id AND sp.nid = ps.j
           WHERE NOT EXISTS (SELECT 1 FROM sel4 x
             WHERE x.query_id = sl.query_id AND x.nid = sl.nid)
           GROUP BY 1,2,3),
         s5 AS (SELECT query_id, nid FROM c5
           QUALIFY row_number() OVER (PARTITION BY query_id
             ORDER BY 0.7*cq - (1 - 0.7)*pen DESC, nid) = 1)
         SELECT query_id, rank, nid AS neighbor_id FROM (
           SELECT query_id, CAST(1 AS INTEGER) AS rank, nid FROM s1
           UNION ALL SELECT query_id, CAST(2 AS INTEGER), nid FROM s2
           UNION ALL SELECT query_id, CAST(3 AS INTEGER), nid FROM s3
           UNION ALL SELECT query_id, CAST(4 AS INTEGER), nid FROM s4
           UNION ALL SELECT query_id, CAST(5 AS INTEGER), nid FROM s5)
         ORDER BY query_id, rank"""),

    // s11: the s02 replay with EVERY vector as a query (block-keyed
    // self-join), rank cut at 3 — the corpus k-NN graph
    Gate("s11_knn_graph", PipelineQueries.knn_graph,
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         scored AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_inner_product(q.v,e.v)
               / (sqrt(list_inner_product(q.v,q.v))
                  *sqrt(list_inner_product(e.v,e.v))) AS cos
           FROM e q JOIN e ON e.label = q.label AND e.vec_id != q.vec_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 3
         ORDER BY query_id, rank"""),

    // s13: s02's single-probe replay over the lang='en'-restricted
    // corpus — the pre-filter strategy's exactness IS the oracle
    // contract (top-k of the eligible set, no over-fetch heuristics)
    Gate("s13_filtered_ann", PipelineQueries.filtered_ann,
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           WHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
         q AS (SELECT vec_id AS query_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q JOIN e ON e.label = q.label AND e.vec_id != query_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s14: the post-filter replay — unfiltered per-block top-k′ with
    // k′ = ⌈k·total/eligible⌉ (integer ceil-division, the same
    // arithmetic as the Spark side), then drop non-matching and
    // re-rank by the shortlist's integer rank
    Gate("s14_filtered_ann_post", PipelineQueries.filtered_ann_post,
      """WITH tot AS (SELECT count(*) AS n FROM documents),
         elig AS (SELECT doc_id FROM documents
           WHERE lang = 'en' AND source = 'src3'),
         ne AS (SELECT count(*) AS n FROM elig),
         kp AS (SELECT CAST((1 * tot.n + ne.n - 1) // ne.n AS BIGINT) AS k
           FROM tot, ne),
         e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label, v AS qv
               FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q JOIN e ON e.label = q.label AND e.vec_id != query_id),
         short AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS r0
           FROM scored
           QUALIFY r0 <= (SELECT k FROM kp)),
         filt AS (SELECT query_id, neighbor_id, r0 FROM short
           WHERE neighbor_id IN (SELECT doc_id FROM elig))
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY r0) AS INTEGER) AS rank,
                neighbor_id
         FROM filt
         QUALIFY rank <= 1
         ORDER BY query_id, rank"""),

    Gate("s02_ann_ivf", PipelineQueries.ann_ivf,
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label, v AS qv
               FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
             list_inner_product(qv,v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(v,v))) AS cos
           FROM q JOIN e ON e.label = q.label AND e.vec_id != query_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s03: the probe is a pure function of the persisted centroids
    // (written by the query itself at fit time — the index-build
    // artifact), so DuckDB replays it end-to-end: nearest-centroid
    // assignment by squared L2 summed dim-by-dim in array order (ties
    // to the lower cluster_id, exactly Spark's array_sort(struct(d,i))
    // cut), 2-probe bucket selection for queries, then the s01/s02
    // cosine + (cos DESC, id ASC) top-k
    Gate("s03_ann_ivf_kmeans", PipelineQueries.ann_ivf_kmeans,
      """WITH c AS (SELECT cluster_id, centroid
           FROM '/tmp/graft_s03_centroids/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dist AS (SELECT vec_id, v, cluster_id,
             list_sum(list_transform(list_zip(centroid, v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN c),
         assigned AS (SELECT vec_id, v, cluster_id AS block FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) = 1),
         qprobe AS (SELECT vec_id AS query_id, v AS qv, cluster_id AS block
           FROM dist WHERE vec_id < 10
           QUALIFY row_number() OVER
             (PARTITION BY vec_id ORDER BY d2, cluster_id) <= 2),
         scored AS (SELECT query_id, a.vec_id AS neighbor_id,
             list_inner_product(qv, a.v)
               / (sqrt(list_inner_product(qv,qv))*sqrt(list_inner_product(a.v,a.v))) AS cos
           FROM qprobe q JOIN assigned a ON a.block = q.block
             AND a.vec_id != q.query_id)
         SELECT query_id,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
                neighbor_id
         FROM scored
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    // s04: every PQ code re-derived from the persisted codebook with
    // the same left-to-right squared-distance sum and lowest-id tie
    // rule; any drift in training persistence, slicing, or argmin
    // breaks 500 rows × 8 codes of exact equality
    Gate("s04_pq_codes", PipelineQueries.pq_codes,
      """WITH c AS (SELECT sub_idx, cluster_id, centroid
           FROM '/tmp/graft_s04_pq/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dist AS (SELECT vec_id, sub_idx, cluster_id,
             list_sum(list_transform(
               list_zip(centroid, v[sub_idx*8+1 : sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN c),
         best AS (SELECT vec_id, sub_idx, cluster_id FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id, sub_idx ORDER BY d2, cluster_id) = 1)
         SELECT vec_id,
                CAST(max(CASE WHEN sub_idx=0 THEN cluster_id END) AS INTEGER) AS c0,
                CAST(max(CASE WHEN sub_idx=1 THEN cluster_id END) AS INTEGER) AS c1,
                CAST(max(CASE WHEN sub_idx=2 THEN cluster_id END) AS INTEGER) AS c2,
                CAST(max(CASE WHEN sub_idx=3 THEN cluster_id END) AS INTEGER) AS c3,
                CAST(max(CASE WHEN sub_idx=4 THEN cluster_id END) AS INTEGER) AS c4,
                CAST(max(CASE WHEN sub_idx=5 THEN cluster_id END) AS INTEGER) AS c5,
                CAST(max(CASE WHEN sub_idx=6 THEN cluster_id END) AS INTEGER) AS c6,
                CAST(max(CASE WHEN sub_idx=7 THEN cluster_id END) AS INTEGER) AS c7
         FROM best GROUP BY vec_id ORDER BY vec_id"""),

    // s05: codes AND per-query distance tables re-derived from the
    // same codebook; ADC per neighbor summed over subspaces in
    // sub_idx order (list(… ORDER BY sub_idx) → list_sum) to match
    // the Spark side's fixed j-ascending fold bit-for-bit
    Gate("s05_pq_adc", PipelineQueries.pq_adc,
      """WITH c AS (SELECT sub_idx, cluster_id, centroid
           FROM '/tmp/graft_s04_pq/sf0.01/*.parquet'),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dist AS (SELECT vec_id, sub_idx, cluster_id,
             list_sum(list_transform(
               list_zip(centroid, v[sub_idx*8+1 : sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           FROM e CROSS JOIN c),
         codes AS (SELECT vec_id, sub_idx, cluster_id FROM dist
           QUALIFY row_number() OVER
             (PARTITION BY vec_id, sub_idx ORDER BY d2, cluster_id) = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         dt AS (SELECT q.query_id, c.sub_idx, c.cluster_id,
             list_sum(list_transform(
               list_zip(c.centroid, q.qv[c.sub_idx*8+1 : c.sub_idx*8+8]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
           FROM q CROSS JOIN c),
         adc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
             list_sum(list(dq ORDER BY dt.sub_idx)) AS adc
           FROM codes
           JOIN dt ON dt.sub_idx = codes.sub_idx
                  AND dt.cluster_id = codes.cluster_id
           GROUP BY 1, 2)
         SELECT query_id,
                CAST(row_number() OVER
                  (PARTITION BY query_id ORDER BY adc, neighbor_id)
                  AS INTEGER) AS rank,
                neighbor_id
         FROM adc WHERE neighbor_id != query_id
         QUALIFY rank <= 10
         ORDER BY query_id, rank"""),

    Gate("t01_lang_id", PipelineQueries.lang_id,
      s"""WITH sw(sw_lang, sw_word) AS (VALUES ${graft.functions.TextFunctions.stopwords
             .map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\\s+')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, sw_lang, count(*) AS hits
           FROM tok JOIN sw ON tok = sw_word GROUP BY 1,2),
         best AS (SELECT doc_id, sw_lang FROM hits
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, sw_lang) = 1)
         SELECT d.doc_id AS doc_id, coalesce(b.sw_lang,'und') AS pred_lang
         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         ORDER BY doc_id"""),

    Gate("t02_quality_score", PipelineQueries.quality_score,
      s"""WITH f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\\s]','','g')) AS punct,
             length(regexp_replace(text,'\\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id, n_chars_m,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f)
         SELECT doc_id, n_chars_m, n_tokens,
                CAST(round(CAST(avg_tl AS DECIMAL(20,10)),4) AS DOUBLE) AS avg_token_len,
                CAST(round(CAST(stop_r AS DECIMAL(20,10)),4) AS DOUBLE) AS stopword_ratio,
                CAST(round(CAST(punct_r AS DECIMAL(20,10)),4) AS DOUBLE) AS punct_ratio,
                CAST(round(CAST(0.5*stop_r + 0.3*(1.0-punct_r)
                      + 0.2*least(avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4) AS DOUBLE) AS quality_score
         FROM g ORDER BY doc_id"""),

    Gate("t03_token_count", PipelineQueries.token_count,
      ("""SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS ws_tokens,
                (length(text)+3)//4 AS bpe_est_tokens,
                CAST(len(regexp_extract_all(text, '""" +
        graft.functions.TextFunctions.bpePattern.replace("'", "''") +
        """')) AS BIGINT) AS bpe_regex_tokens
         FROM documents ORDER BY doc_id""")),

    Gate("t04_fingerprint", PipelineQueries.fingerprint,
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp
         FROM documents ORDER BY doc_id"""),

    Gate("p03_shard_pack", PipelineQueries.shard_pack,
      """WITH t AS (SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, lang, n_tokens, cum_tokens,
                CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS shard_id
         FROM c ORDER BY lang, doc_id"""),

    // p15: p03's packing rolled to (lang, shard) grain with the
    // order-canonical membership checksum — md5 over the sorted,
    // comma-joined doc-id list (BIGINT→VARCHAR is plain digits in
    // both engines)
    Gate("p15_shard_manifest", PipelineQueries.shard_manifest,
      """WITH t AS (SELECT doc_id, lang, source,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t),
         sh AS (SELECT doc_id, lang, source, n_tokens,
             CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS shard_id
           FROM c)
         SELECT lang, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                md5(array_to_string(list_sort(list(doc_id)), ',')) AS checksum
         FROM sh GROUP BY 1, 2 ORDER BY lang, shard_id"""),

    // r67: the same batch window again — after a checkpoint restart
    // between the corpus halves, resumed GroupState offsets must
    // reproduce it (a reset offset shifts every leg-2 placement)
    Gate("r67_stream_state_recovery", StreamingQueries.stream_concat_chunk_recovery,
      """WITH t AS (SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)),'\s+')) > 0),
         o AS (SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM t)
         SELECT lang, doc_id, n_tokens, start_off,
                CAST(start_off // 128 AS BIGINT) AS first_example,
                CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_example
         FROM o ORDER BY lang, doc_id"""),

    // r66: streaming placement must equal the batch p16 window over
    // the whole corpus — the running-offset state carried across all
    // four ordered micro-batches
    Gate("r66_stream_concat_chunk", StreamingQueries.stream_concat_chunk,
      """WITH t AS (SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)),'\s+')) > 0),
         o AS (SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM t)
         SELECT lang, doc_id, n_tokens, start_off,
                CAST(start_off // 128 AS BIGINT) AS first_example,
                CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_example
         FROM o ORDER BY lang, doc_id"""),

    // r68: the same batch-p17 rank — after a checkpoint restart
    // between the corpus halves, the resumed per-source rank counter
    // must reproduce it (a reset counter shifts every leg-2 key)
    Gate("r68_stream_interleave", StreamingQueries.stream_interleave_recovery,
      """WITH sx AS (SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
           FROM (SELECT DISTINCT source FROM documents)),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sx),
         r AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS src_rank
           FROM documents)
         SELECT r.doc_id, r.source, r.src_rank,
                CAST((r.src_rank - 1) * n.n + sx.src_idx AS BIGINT)
                  AS interleave_key
         FROM r JOIN sx USING (source) CROSS JOIN n
         ORDER BY r.doc_id"""),

    // p17: per-source md5-ordered ranks, dense source index over the
    // sorted source dictionary, key = (rank-1)*n + idx — all integer
    Gate("p17_epoch_interleave", PipelineQueries.epoch_interleave,
      """WITH sx AS (SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
           FROM (SELECT DISTINCT source FROM documents)),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sx),
         r AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS src_rank
           FROM documents)
         SELECT r.doc_id, r.source, r.src_rank,
                CAST((r.src_rank - 1) * n.n + sx.src_idx AS BIGINT)
                  AS interleave_key
         FROM r JOIN sx USING (source) CROSS JOIN n
         ORDER BY r.doc_id"""),

    // p18: the composed Lee-et-al pipeline — d20's cut-corpus CTE
    // chain feeds p16's per-lang running-offset window over the
    // CLEANED text, and the p15 manifest aggregates at the
    // (lang, 16-example shard) grain. Each stage's SQL is the
    // standalone gate's oracle verbatim, chained.
    Gate("p18_lee_pipeline", PipelineQueries.lee_pipeline,
      """WITH w AS (SELECT doc_id,
             unnest(range(CAST(length(text)-39 AS BIGINT))) AS i,
             unnest(list_transform(range(CAST(length(text)-39 AS BIGINT)),
               i -> md5(substr(text, CAST(i+1 AS INTEGER), 40)))) AS g
           FROM documents
           WHERE length(text) >= 40 AND strlen(text) = length(text)),
         own AS (SELECT g, min(doc_id) AS own FROM w GROUP BY g),
         cut AS (SELECT w.doc_id, w.i+1 AS i FROM w JOIN own USING (g)
           WHERE w.doc_id > own.own),
         isl AS (SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
           FROM cut),
         sp AS (SELECT doc_id, min(i) AS a, max(i) + 39 AS b
           FROM isl GROUP BY doc_id, island),
         m0 AS (SELECT doc_id, a, b, max(b) OVER (PARTITION BY doc_id
             ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM sp),
         m1 AS (SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS brk
           FROM m0),
         m2 AS (SELECT doc_id, a, b, sum(brk) OVER (PARTITION BY doc_id
             ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM m1),
         iv AS (SELECT doc_id, min(a) AS a, max(b) AS b
           FROM m2 GROUP BY doc_id, grp),
         seg AS (SELECT doc_id,
             coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY a), 0) + 1 AS s,
             a - 1 AS e FROM iv
           UNION ALL
           SELECT iv.doc_id, max(iv.b) + 1 AS s, max(length(d.text)) AS e
           FROM iv JOIN documents d USING (doc_id) GROUP BY iv.doc_id),
         agg AS (SELECT seg.doc_id,
             string_agg(CASE WHEN e >= s THEN
               substr(d.text, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER))
               ELSE '' END, '' ORDER BY s) AS clean
           FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id),
         cleaned AS (SELECT d.doc_id, d.lang, d.source,
             coalesce(agg.clean, d.text) AS clean_text
           FROM documents d LEFT JOIN agg USING (doc_id)),
         t AS (SELECT lang, source, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(clean_text)),'\s+')) AS BIGINT) AS n_tokens
           FROM cleaned
           WHERE len(regexp_split_to_array(trim(lower(clean_text)),'\s+')) > 0),
         o AS (SELECT lang, source, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM t),
         sh AS (SELECT lang, source, doc_id, n_tokens,
             CAST((start_off // 128) // 16 AS BIGINT) AS shard_id
           FROM o)
         SELECT lang, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                md5(array_to_string(list_sort(list(doc_id)), ',')) AS checksum
         FROM sh GROUP BY 1, 2 ORDER BY lang, shard_id"""),

    // p19: the two-level form must equal p16 EXACTLY (the bucket is a
    // prefix of the doc_id order), so its oracle IS p16's single-level
    // SQL — the order-equivalence proof runs cross-engine every round
    Gate("p19_concat_chunk_scale", PipelineQueries.concat_chunk_scale,
      """WITH t AS (SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)),'\s+')) > 0),
         o AS (SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM t)
         SELECT lang, doc_id, n_tokens, start_off,
                CAST(start_off // 128 AS BIGINT) AS first_example,
                CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_example
         FROM o ORDER BY lang, doc_id"""),

    // p20: the compaction manifest recomputed from the ORIGINAL table
    // — file scatter (doc_id mod 64), per-lang (bytes DESC, file_id)
    // sorted prefix sum, integer-div binning at the 16 KiB target,
    // then the expected per-bin manifest with the p15 membership
    // checksum; the Spark side reads the REWRITTEN parquet back, so a
    // mismatch anywhere in plan/rewrite/read-back breaks the hash
    Gate("p20_compaction", PipelineQueries.compaction_manifest,
      """WITH f AS (SELECT lang, doc_id % 64 AS file_id, doc_id, n_chars
           FROM documents),
         fm AS (SELECT lang, file_id,
             CAST(sum(n_chars) AS BIGINT) AS fbytes
           FROM f GROUP BY 1, 2),
         pl AS (SELECT lang, file_id, fbytes,
             CAST(sum(fbytes) OVER (PARTITION BY lang
                   ORDER BY fbytes DESC, file_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM fm),
         asg AS (SELECT lang, file_id,
             CAST((cum - fbytes) // 16384 AS BIGINT) AS bin
           FROM pl),
         d AS (SELECT f.lang, f.doc_id, f.n_chars, f.file_id, asg.bin
           FROM f JOIN asg ON asg.lang = f.lang AND asg.file_id = f.file_id)
         SELECT lang, bin,
                CAST(count(DISTINCT file_id) AS BIGINT) AS n_files_in,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS bytes,
                md5(array_to_string(list_sort(list(doc_id)), ',')) AS checksum
         FROM d GROUP BY 1, 2 ORDER BY lang, bin"""),

    // p21: the merge+split manifest recomputed from the ORIGINAL
    // table — skewed scatter (3/4 of each lang into file 0), file
    // classification at the 4×-target split threshold, p20's sorted
    // prefix-sum binning for the small files, per-file offset-window
    // piece cuts for the fat ones, then the expected per-bin manifest
    // with the membership checksum; the Spark side reads the
    // REWRITTEN parquet back
    Gate("p21_compact_split", PipelineQueries.compaction_split_manifest,
      """WITH f AS (SELECT lang,
             CASE WHEN doc_id % 4 < 3 THEN 0
                  ELSE 1 + doc_id % 16 END AS file_id,
             doc_id, n_chars
           FROM documents),
         fm AS (SELECT lang, file_id,
             CAST(sum(n_chars) AS BIGINT) AS fbytes
           FROM f GROUP BY 1, 2),
         pl AS (SELECT lang, file_id, fbytes,
             CAST(sum(fbytes) OVER (PARTITION BY lang
                   ORDER BY fbytes DESC, file_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM fm WHERE fbytes <= 32768),
         asg AS (SELECT lang, file_id,
             CAST((cum - fbytes) // 8192 AS BIGINT) AS bin
           FROM pl),
         fat AS (SELECT lang, file_id FROM fm WHERE fbytes > 32768),
         mrows AS (SELECT f.lang, f.doc_id, f.n_chars, f.file_id, asg.bin
           FROM f JOIN asg ON asg.lang = f.lang AND asg.file_id = f.file_id),
         srows AS (SELECT f.lang, f.doc_id, f.n_chars, f.file_id,
             CAST(1000000 + f.file_id * 1000 +
               (sum(f.n_chars) OVER (PARTITION BY f.lang, f.file_id
                    ORDER BY f.doc_id ROWS UNBOUNDED PRECEDING)
                 - f.n_chars) // 8192 AS BIGINT) AS bin
           FROM f JOIN fat ON fat.lang = f.lang AND fat.file_id = f.file_id),
         d AS (SELECT * FROM mrows UNION ALL SELECT * FROM srows)
         SELECT lang, bin,
                CAST(count(DISTINCT file_id) AS BIGINT) AS n_files_in,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS bytes,
                md5(array_to_string(list_sort(list(doc_id)), ',')) AS checksum
         FROM d GROUP BY 1, 2 ORDER BY lang, bin"""),

    // t29: the shared perceptron cascade composed with p16's packing
    // chain — token counts recomputed from the SAME tb CTE the
    // features fold (one tokenization in the oracle too), gate on
    // score > 0, then the per-lang running-offset example map over
    // the surviving docs
    Gate("t29_classifier_gate", PipelineQueries.classifier_gated_corpus,
      (perceptronOracleCtes +
        """,
         nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
           FROM tb GROUP BY 1),
         gated AS (SELECT d.lang, s3.doc_id, s3.score, nt.n_tokens
           FROM s3 JOIN nt USING (doc_id) JOIN documents d USING (doc_id)
           WHERE s3.score > 0 AND nt.n_tokens > 0),
         o AS (SELECT lang, doc_id, score, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM gated)
         SELECT lang, doc_id, score, n_tokens, start_off,
                CAST(start_off // 128 AS BIGINT) AS first_example,
                CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_example
         FROM o ORDER BY lang, doc_id""")),

    // t27: the E=3 batch-perceptron epochs unrolled as CTEs — the
    // same md5 bucket fold (B=32 + bias bucket 32), all-BIGINT
    // scores/updates so the replay is exact; w0 = 0 makes epoch 1's
    // update the full Σ y·x, and every epoch updates on y·score ≤ 0.
    // Both perceptron oracles compose the SHARED cascade
    // ([[perceptronOracleCtes]]) so the epoch arithmetic can never
    // diverge between the score gate and the eval gate.
    Gate("t27_perceptron_quality", PipelineQueries.perceptron_quality,
      (perceptronOracleCtes +
        """
         SELECT doc_id, y, score,
                CASE WHEN score > 0 THEN CAST(1 AS BIGINT)
                     ELSE CAST(-1 AS BIGINT) END AS pred
         FROM s3 ORDER BY doc_id""")),

    // t28: t27's full train+score chain replayed, rolled to SOURCE
    // grain — per source (label-pure by construction) the predicted-
    // positive and correct counts under the final epoch-3 weights
    Gate("t28_perceptron_eval", PipelineQueries.perceptron_eval,
      (perceptronOracleCtes +
        """
         SELECT source, y, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pred_pos,
                CAST(sum(CASE WHEN (score > 0 AND y = 1)
                    OR (score <= 0 AND y = -1) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct
         FROM s3 GROUP BY 1, 2 ORDER BY source""")),

    // p16: concat-and-chunk — per-lang running token offsets, then
    // integer division by the C=128 example size; the final partial
    // example is emitted (boundary map is total)
    Gate("p16_concat_chunk", PipelineQueries.concat_chunk,
      """WITH t AS (SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)),'\s+')) > 0),
         o AS (SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
           FROM t)
         SELECT lang, doc_id, n_tokens, start_off,
                CAST(start_off // 128 AS BIGINT) AS first_example,
                CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_example
         FROM o ORDER BY lang, doc_id"""),

    Gate("p04_source_mix", PipelineQueries.source_mix,
      """WITH b AS (SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS bkt
           FROM documents)
         SELECT doc_id, source,
                CASE WHEN bkt < 'e666' THEN 'train'
                     WHEN bkt < 'f333' THEN 'val'
                     ELSE 'test' END AS split
         FROM b
         WHERE source = 'src0'
            OR (source = 'src1' AND bkt < 'c000')
            OR (source = 'src2' AND bkt < '8000')
            OR (source NOT IN ('src0','src1','src2') AND bkt < '4000')
         ORDER BY doc_id"""),

    // p07: temperature mixing — budgets from sqrt(n) weights (sqrt is
    // correctly rounded per IEEE-754, so both engines compute the
    // same doubles), selection by md5 rank within source
    // p14: the d11 qi fragment summed per source, exact Hamilton
    // apportionment in BIGINT (base = (qmass*200) // T, leftover
    // seats to the largest remainders with source-ASC ties), then the
    // p07 md5-rank selection. No float anywhere in the allocation.
    Gate("p14_quality_budget", PipelineQueries.quality_budget,
      """WITH f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\s]','','g')) AS punct,
             length(regexp_replace(text,'\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f),
         q AS (SELECT doc_id,
             CAST(floor(CAST(round(CAST(0.5*stop_r + 0.3*(1.0-punct_r)
                    + 0.2*least(avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4)
                  AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qi
           FROM g),
         m AS (SELECT d.source, sum(q.qi) AS qmass
               FROM documents d JOIN q ON d.doc_id = q.doc_id
               GROUP BY d.source),
         t AS (SELECT sum(qmass) AS t FROM m),
         fl AS (SELECT source, qmass,
                  (qmass * 200) // t AS base,
                  qmass * 200 - ((qmass * 200) // t) * t AS rem
                FROM m CROSS JOIN t),
         k AS (SELECT 200 - sum(base) AS k FROM fl),
         rkk AS (SELECT source, base,
                  row_number() OVER (ORDER BY rem DESC, source ASC) - 1 AS ahead
                 FROM fl),
         bud AS (SELECT source,
                  base + CASE WHEN ahead < k THEN 1 ELSE 0 END AS budget
                 FROM rkk CROSS JOIN k),
         sel AS (SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
                 FROM documents)
         SELECT sel.doc_id, sel.source, rk
         FROM sel JOIN bud USING (source)
         WHERE rk <= budget
         ORDER BY source, rk"""),

    Gate("p07_temperature_mix", PipelineQueries.temperature_mix,
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         w AS (SELECT source,
                 CAST(round(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,10)), 9)
                   AS DECIMAL(28,9)) AS q
               FROM c),
         t AS (SELECT CAST(sum(q) AS DECIMAL(28,9)) AS sq FROM w),
         tgt AS (SELECT source,
                   CAST(floor(200.0 * CAST(q AS DOUBLE) / CAST(sq AS DOUBLE))
                     AS BIGINT) AS target_rows
                 FROM w, t),
         r AS (SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
               FROM documents)
         SELECT r.doc_id, r.source, rk
         FROM r JOIN tgt USING (source)
         WHERE rk <= target_rows
         ORDER BY source, rk"""),

    // t13: bigram LM with add-one smoothing — same DECIMAL-round +
    // sorted-fold float discipline as t12; V from a distinct-unigram
    // scalar subquery
    Gate("t13_bigram_lm", PipelineQueries.bigram_lm,
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         idx AS (SELECT doc_id, t,
             unnest(range(CAST(len(t)-1 AS BIGINT))) AS i
           FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i+1] AS prev, t[i+2] AS term FROM idx),
         v AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS vocab
           FROM (SELECT unnest(t) AS u FROM toks)),
         bf AS (SELECT prev, term, CAST(count(*) AS BIGINT) AS bf
           FROM bg GROUP BY 1,2),
         pf AS (SELECT prev, CAST(count(*) AS BIGINT) AS pf
           FROM bg GROUP BY 1),
         dt AS (SELECT doc_id, prev, term, CAST(count(*) AS BIGINT) AS c
           FROM bg GROUP BY 1,2,3),
         w AS (SELECT doc_id, c,
             CAST(round(CAST(c * (log2(bf + 1) - log2(pf + vocab))
               AS DECIMAL(28,10)), 9) AS DOUBLE) AS w
           FROM dt JOIN bf USING (prev, term) JOIN pf USING (prev)
           CROSS JOIN v),
         agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             list_reduce(list_sort(list(w)), (acc, x) -> acc + x) AS s
           FROM w GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
                CAST(round(CAST(s / n_bigrams AS DECIMAL(28,10)), 4)
                  AS DOUBLE) AS lm2_score
         FROM agg ORDER BY doc_id"""),

    // p08: curriculum ordering — ntile length deciles (SQL-standard
    // remainder-to-first-buckets in both engines), md5-ranked batches
    Gate("p08_curriculum", PipelineQueries.curriculum,
      """WITH t AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+'))
               AS BIGINT) AS n_tokens
           FROM documents),
         d AS (SELECT doc_id, n_tokens,
             CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS INTEGER)
               AS decile
           FROM t)
         SELECT doc_id, n_tokens, decile,
                CAST(row_number() OVER (PARTITION BY decile
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
                  AS batch
         FROM d ORDER BY batch, decile, doc_id"""),

    // p11: the scale-safe curriculum — decile assignment from
    // value-at-rank cut-points (rank_d = d*(N div 10) + least(d, N mod
    // 10), ntile's bucket-end ranks; integer-only; ties to the LOWER
    // decile via strict >) instead of a global ntile; the oracle
    // recomputes the same cut-points from the same histogram sweep,
    // so the gate is exact end-to-end
    Gate("p11_curriculum_scale", PipelineQueries.curriculum_scale,
      """WITH t AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)),'\s+'))
               AS BIGINT) AS n_tokens
           FROM documents),
         h AS (SELECT n_tokens, count(*) AS cnt FROM t GROUP BY 1),
         c AS (SELECT n_tokens,
             sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM h),
         n AS (SELECT count(*) AS total FROM t),
         cuts AS (SELECT d, min(n_tokens) AS cut
           FROM c CROSS JOIN n
           CROSS JOIN (SELECT unnest(range(1, 10)) AS d)
           WHERE cum >= d * (total // 10) + least(d, total % 10)
           GROUP BY d),
         dd AS (SELECT t.doc_id, t.n_tokens,
             CAST(1 + (SELECT count(*) FROM cuts
               WHERE t.n_tokens > cuts.cut) AS INTEGER) AS decile
           FROM t)
         SELECT doc_id, n_tokens, decile,
                CAST(row_number() OVER (PARTITION BY decile
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
                  AS batch
         FROM dd ORDER BY batch, decile, doc_id"""),

    // t15: content-defined chunking — a token whose md5 hex starts
    // with '0' ends its chunk; chunk ids are the prefix-count of
    // PRECEDING boundary tokens, hashes fold tokens in position order
    Gate("t15_cdc_chunks", PipelineQueries.cdc_chunks,
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks
           FROM documents),
         p AS (SELECT doc_id, i AS pos, toks[i] AS tok
           FROM t, LATERAL unnest(range(1, len(toks)+1)) AS u(i)),
         c AS (SELECT doc_id, pos, tok,
             coalesce(sum(CASE WHEN substr(md5(tok),1,1)='0'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS chunk_idx
           FROM p)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                count(*) AS n_toks,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         FROM c GROUP BY doc_id, chunk_idx
         ORDER BY doc_id, chunk_idx"""),

    // d12: chunk-granular duplication over the t15 CDC chunks —
    // same chunk CTEs, then hashes shared by >= 2 distinct docs
    Gate("d12_cdc_dup_chunks", PipelineQueries.cdc_dup_chunks,
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks
           FROM documents),
         p AS (SELECT doc_id, i AS pos, toks[i] AS tok
           FROM t, LATERAL unnest(range(1, len(toks)+1)) AS u(i)),
         c AS (SELECT doc_id, pos, tok,
             coalesce(sum(CASE WHEN substr(md5(tok),1,1)='0'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS chunk_idx
           FROM p),
         ch AS (SELECT doc_id, chunk_idx,
                  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
                FROM c GROUP BY doc_id, chunk_idx),
         dup AS (SELECT chunk_hash FROM ch
                 GROUP BY chunk_hash
                 HAVING count(DISTINCT doc_id) >= 2),
         pd AS (SELECT doc_id, count(*) AS n_chunks
                FROM ch GROUP BY doc_id),
         dd AS (SELECT ch.doc_id, count(*) AS n_dup_chunks
                FROM ch JOIN dup USING (chunk_hash) GROUP BY ch.doc_id)
         SELECT pd.doc_id, pd.n_chunks,
                coalesce(dd.n_dup_chunks, 0) AS n_dup_chunks
         FROM pd LEFT JOIN dd ON pd.doc_id = dd.doc_id
         ORDER BY pd.doc_id"""),

    // p09: 64-token chunks at stride 48 — chunk count floor((n-1)/48)+1,
    // per-chunk token span and md5 of the joined window
    Gate("p09_chunking", PipelineQueries.chunk_docs,
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, toks, len(toks) AS n,
             unnest(range((len(toks)-1)//48 + 1)) AS ci
           FROM t)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
                CAST(ci*48 + 1 AS BIGINT) AS start_tok,
                CAST(least(ci*48 + 64, n) - ci*48 AS BIGINT) AS n_toks,
                md5(array_to_string(toks[ci*48+1 : ci*48+64], ' ')) AS chunk_hash
         FROM c ORDER BY doc_id, chunk_idx"""),

    // m09: scene cuts — the Y4M synth's luma ramps +17/frame mod 256,
    // so cuts are exactly the wrap points; closed-form replay
    Gate("m09_scene_cuts", PipelineQueries.multimodal_scenes,
      """WITH d AS (SELECT doc_id,
             doc_id%13+16 AS nf
           FROM documents),
         f AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS k
               FROM d),
         l AS (SELECT doc_id, k, (doc_id + 17*k)%256 AS luma FROM f),
         j AS (SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
                 lag(luma) OVER (PARTITION BY doc_id ORDER BY k) AS prev_luma,
                 luma
               FROM l)
         SELECT doc_id, frame_idx,
                CAST(prev_luma AS BIGINT) AS prev_luma,
                CAST(luma AS BIGINT) AS luma,
                CAST(abs(luma - prev_luma) AS BIGINT) AS jump
         FROM j
         WHERE prev_luma IS NOT NULL AND abs(luma - prev_luma) >= 100
         ORDER BY doc_id, frame_idx"""),

    // t14: one BPE training iteration — word freqs, char-pair weights
    // over the distinct word table, deterministic (weight, pair) top-100
    Gate("t14_bpe_pairs", PipelineQueries.bpe_pairs,
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM toks GROUP BY 1),
         idx AS (SELECT w, wf, unnest(range(CAST(length(w)-1 AS BIGINT))) AS i
           FROM wf WHERE length(w) >= 2),
         p AS (SELECT substr(w, CAST(i+1 AS INTEGER), 2) AS pair, wf FROM idx)
         SELECT pair, CAST(sum(wf) AS BIGINT) AS weight
         FROM p GROUP BY pair
         ORDER BY weight DESC, pair ASC LIMIT 100"""),

    // t21: the 3-round BPE trainer unrolled — each round re-derives
    // pair counts over the merged word table, picks the (weight DESC,
    // pair ASC) winner, and applies it with the SAME double-space
    // replace the Spark loop uses (replace() greedy left-to-right
    // semantics are engine-identical; the delimiter scheme makes that
    // equal to greedy BPE merging)
    Gate("t21_bpe_merges", PipelineQueries.bpe_merges,
      bpeMergesOracle(graft.queries.PipelineQueries.bpeMergeRounds)),

    // t25: probes the PERSISTED dict artifact (the d11/p12 pattern —
    // the gate's engine side trains/loads the same parquet), so a
    // stale or drifted dictionary fails the hash compare
    Gate("t25_bpe_compression", PipelineQueries.bpe_compression,
      """WITH toks AS (SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         dict AS (SELECT * FROM '/tmp/graft_t21_bpe/sf0.01/dict/*.parquet')
         SELECT t.source, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(d.n_char) AS BIGINT) AS sum_chars,
                CAST(sum(d.n_sym) AS BIGINT) AS sum_tokens
         FROM toks t JOIN dict d USING (w)
         GROUP BY t.source ORDER BY t.source"""),

    // t30: t25's compression eval replayed over the t26 realistic-
    // vocabulary fixture (both corpus and dict artifact read by
    // literal path — the s03 pattern), so the adopt-or-reject metric
    // is cross-engine-verified at a five-figure dictionary too
    Gate("t30_bpe_compression_large", PipelineQueries.bpe_compression_large,
      (s"""WITH toks AS (SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)),'\\s+')) AS w
           FROM '${graft.queries.PipelineQueries.t26CorpusPath}/documents.parquet/*.parquet'),
         dict AS (SELECT * FROM """ +
        s"'${graft.queries.PipelineQueries.t21BpePath(graft.queries.PipelineQueries.t26CorpusPath)}/dict/*.parquet')" +
        """
         SELECT t.source, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(d.n_char) AS BIGINT) AS sum_chars,
                CAST(sum(d.n_sym) AS BIGINT) AS sum_tokens
         FROM toks t JOIN dict d USING (w)
         GROUP BY t.source ORDER BY t.source""")),

    // r64: same exhaustive matrix as t22 — theta's merge-order
    // invariance means four micro-batches through the RocksDB state
    // store must reproduce the batch artifact bit for bit
    Gate("r64_stream_theta", StreamingQueries.stream_theta_overlap,
      """WITH toks AS (SELECT source,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT DISTINCT source,
             unnest(list_transform(range(len(t)-7),
               i -> md5(array_to_string(t[i+1:i+8],' ')))) AS h
           FROM toks WHERE len(t) >= 8),
         srcs AS (SELECT DISTINCT source FROM documents),
         pairs AS (SELECT a.source AS src_a, b.source AS src_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
         ov AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS c
           FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, COALESCE(ov.c, 0) AS overlap
         FROM pairs p LEFT JOIN ov USING (src_a, src_b)
         ORDER BY src_a, src_b"""),

    // r65: the SAME exhaustive matrix again — after a checkpoint
    // restart between the two halves of the corpus, the resumed
    // sketch state must reproduce the batch artifact bit for bit
    Gate("r65_stream_theta_recovery", StreamingQueries.stream_theta_recovery,
      """WITH toks AS (SELECT source,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT DISTINCT source,
             unnest(list_transform(range(len(t)-7),
               i -> md5(array_to_string(t[i+1:i+8],' ')))) AS h
           FROM toks WHERE len(t) >= 8),
         srcs AS (SELECT DISTINCT source FROM documents),
         pairs AS (SELECT a.source AS src_a, b.source AS src_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
         ov AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS c
           FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, COALESCE(ov.c, 0) AS overlap
         FROM pairs p LEFT JOIN ov USING (src_a, src_b)
         ORDER BY src_a, src_b"""),

    // t22: exact pairwise distinct-window intersections, zeros
    // included — valid as a hash oracle because at sf0.01 every
    // per-source theta sketch is in the θ = 1 regime (lgNom=14 ≫
    // cardinality), where native intersection estimates are exact
    Gate("t22_source_overlap", PipelineQueries.source_overlap,
      """WITH toks AS (SELECT source,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT DISTINCT source,
             unnest(list_transform(range(len(t)-7),
               i -> md5(array_to_string(t[i+1:i+8],' ')))) AS h
           FROM toks WHERE len(t) >= 8),
         srcs AS (SELECT DISTINCT source FROM documents),
         pairs AS (SELECT a.source AS src_a, b.source AS src_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
         ov AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS c
           FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, COALESCE(ov.c, 0) AS overlap
         FROM pairs p LEFT JOIN ov USING (src_a, src_b)
         ORDER BY src_a, src_b"""),

    // t23: re-learns the same 3 merges (the t21 CTE chain on the
    // WEIGHTED table), applies them to the distinct-word track with
    // the same double-space replace, and rolls per-doc token counts
    // through the (word → symbol count) dictionary join
    Gate("t23_bpe_encode", PipelineQueries.bpe_encode,
      bpeEncodeOracle(graft.queries.PipelineQueries.bpeMergeRounds)),

    // t26: the SAME k-round encode cascade, replayed over the
    // synthetic ≥10k-word fixture corpus (read by literal parquet
    // path, the s03 pattern) — the production-size training run is
    // cross-engine-verified, not just spec-pinned
    Gate("t26_bpe_encode_large", PipelineQueries.bpe_encode_large,
      bpeEncodeOracle(graft.queries.PipelineQueries.bpeMergeRounds,
        s"'${graft.queries.PipelineQueries.t26CorpusPath}/documents.parquet/*.parquet'")),

    // g06: 3 synchronized LPA rounds over the d04 pair graph, unrolled —
    // mode pick = row_number over (cnt DESC, lbl ASC), the same
    // (most-frequent, smallest-on-tie) rule as Spark's max(struct(cnt,-lbl))
    Gate("g06_label_prop", PipelineQueries.label_prop,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
         r1 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l0 l ON l.id = e.dst GROUP BY 1,2),
         l1 AS (SELECT src AS id, lbl FROM r1
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1),
         r2 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l1 l ON l.id = e.dst GROUP BY 1,2),
         l2 AS (SELECT src AS id, lbl FROM r2
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1),
         r3 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l2 l ON l.id = e.dst GROUP BY 1,2),
         l3 AS (SELECT src AS id, lbl FROM r3
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1)
         SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community
         FROM l3 ORDER BY doc_id"""),

    // d10: duplicate-passage detection — 8-token window hashes,
    // windows in >= 2 distinct docs are duplicated; integer counts
    Gate("d10_dup_passages", PipelineQueries.dup_passages,
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT doc_id,
             unnest(list_transform(range(len(t)-7),
               i -> md5(array_to_string(t[i+1:i+8],' ')))) AS g
           FROM toks WHERE len(t) >= 8),
         d AS (SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
                CAST(count(*) FILTER (WHERE g IN (SELECT g FROM d)) AS BIGINT)
                  AS dup_windows
         FROM w GROUP BY doc_id ORDER BY doc_id"""),

    Gate("t06_vocab", PipelineQueries.vocab,
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         pd AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1,2)
         SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
                CAST(sum(tf) AS BIGINT) AS term_freq
         FROM pd GROUP BY term
         ORDER BY doc_freq DESC, term_freq DESC, term ASC LIMIT 100"""),

    // t12: mean unigram log2-prob — each summand DECIMAL-rounded before
    // an explicit fold over the SORTED list, so both engines add the
    // same doubles in the same order (bit-reproducible, see the Spark
    // side's rationale)
    Gate("t12_lm_score", PipelineQueries.lm_score,
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
         dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1,2),
         w AS (SELECT doc_id, c,
             CAST(round(CAST(c * (log2(tf) - log2(total))
               AS DECIMAL(28,10)), 9) AS DOUBLE) AS w
           FROM dt JOIN tf USING (term) CROSS JOIN n),
         agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             list_reduce(list_sort(list(w)), (acc, x) -> acc + x) AS s
           FROM w GROUP BY doc_id)
         SELECT doc_id, n_tokens,
                CAST(round(CAST(s / n_tokens AS DECIMAL(28,10)), 4)
                  AS DOUBLE) AS lm_score
         FROM agg ORDER BY doc_id"""),

    // t16: same rounded-summand/sorted-fold discipline as t12 —
    // H = (Σ c·(log2 n − log2 c)) / n over the per-doc count list
    Gate("t16_token_entropy", PipelineQueries.token_entropy,
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1,2),
         l AS (SELECT doc_id, list(c) AS cs FROM tc GROUP BY doc_id),
         a AS (SELECT doc_id,
             CAST(list_sum(cs) AS BIGINT) AS n_tokens,
             CAST(len(cs) AS BIGINT) AS n_distinct,
             list_reduce(list_sort(list_transform(cs, c ->
               CAST(round(CAST(c * (log2(CAST(list_sum(cs) AS DOUBLE))
                   - log2(CAST(c AS DOUBLE))) AS DECIMAL(28,10)), 9)
                 AS DOUBLE))), (acc, x) -> acc + x) AS s
           FROM l)
         SELECT doc_id, n_tokens, n_distinct,
                CAST(round(CAST(s / n_tokens AS DECIMAL(28,10)), 4)
                  AS DOUBLE) AS entropy
         FROM a ORDER BY doc_id"""),

    // d14: the Bloom positions replay as the p12 md5 strpos fold, mod
    // m=1024; corpus = even ids, batch = odd; count(hit)=4 ≡ all-set
    Gate("d14_bloom_prefilter", PipelineQueries.bloom_prefilter,
      """WITH j AS (SELECT unnest(range(4)) AS j),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         cb AS (SELECT DISTINCT
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(j.j AS VARCHAR) || corpus.text),
                   CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) % 1024 AS bit
           FROM corpus, j),
         pb AS (SELECT batch.doc_id,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(j.j AS VARCHAR) || batch.text),
                   CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) % 1024 AS bit
           FROM batch, j),
         mb AS (SELECT pb.doc_id, count(cb.bit) = 4 AS maybe_dup
           FROM pb LEFT JOIN cb ON pb.bit = cb.bit
           GROUP BY pb.doc_id),
         ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
         ex AS (SELECT b.doc_id, count(ch.h) > 0 AS hit
           FROM batch b LEFT JOIN ch ON md5(b.text) = ch.h
           GROUP BY b.doc_id)
         SELECT mb.doc_id, mb.maybe_dup,
                mb.maybe_dup AND coalesce(ex.hit, false) AS is_dup
         FROM mb JOIN ex USING (doc_id) ORDER BY doc_id"""),

    // t17: the CMS grid rebuilt relationally — positions are the d14
    // md5 fold mod w=16, the grid is sum(tf) per (row, cell), the
    // estimate is the min over the term's 4 cells
    // t24: DSIR replay — the same md5-position bucket fold, add-one
    // smoothed log-ratio table quantized to 6dp, 9dp summands folded
    // in sorted order, 4dp final (the t16/t19 float discipline);
    // parenthesization matches the Spark side exactly
    Gate("t24_dsir_weights", PipelineQueries.dsir_weights,
      """WITH toks AS (SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         tb AS (SELECT doc_id, source,
             CAST(list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(w), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) % 64 AS INTEGER) AS b
           FROM toks),
         cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
             CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS ct
           FROM tb GROUP BY 1),
         nn AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
             CAST(sum(ct) AS BIGINT) AS nt FROM cnt),
         lr AS (SELECT g.b,
             round(ln((COALESCE(cnt.ct, 0) + 1) / CAST(nn.nt + 64 AS DOUBLE))
                 - ln((COALESCE(cnt.cr, 0) + 1) / CAST(nn.nr + 64 AS DOUBLE)),
               6) AS lr
           FROM (SELECT CAST(unnest(range(64)) AS INTEGER) AS b) g
           LEFT JOIN cnt ON cnt.b = g.b CROSS JOIN nn),
         pd AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
           FROM tb GROUP BY 1, 2),
         sm AS (SELECT doc_id, round(c * lr.lr, 9) AS sm
           FROM pd JOIN lr ON lr.b = pd.b)
         SELECT doc_id,
                round(list_reduce(list_sort(list(sm)), (a, x) -> a + x), 4)
                  AS dsir_score
         FROM sm GROUP BY doc_id ORDER BY doc_id"""),

    Gate("t17_cms_estimate", PipelineQueries.cms_estimate,
      """WITH toks AS (SELECT
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1),
         pos AS (SELECT term, tf, j.j AS j,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(j.j AS VARCHAR) || term),
                   CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) % 16 AS cell
           FROM tf, (SELECT unnest(range(4)) AS j) j),
         grid AS (SELECT j, cell, CAST(sum(tf) AS BIGINT) AS cnt
           FROM pos GROUP BY 1, 2),
         top AS (SELECT term, tf FROM tf
           QUALIFY row_number() OVER (ORDER BY tf DESC, term) <= 20),
         tp AS (SELECT top.term, top.tf, p.j, p.cell
           FROM top JOIN pos p ON p.term = top.term)
         SELECT tp.term, max(tp.tf) AS true_count,
                CAST(min(grid.cnt) AS BIGINT) AS cms_estimate
         FROM tp JOIN grid ON grid.j = tp.j AND grid.cell = tp.cell
         GROUP BY tp.term
         ORDER BY true_count DESC, term"""),

    // t18: the d10 window machinery across the train/eval split —
    // per-doc count of 8-token windows present in the eval set
    Gate("t18_contamination_density", PipelineQueries.contamination_density,
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT doc_id,
             unnest(list_transform(range(len(t)-7),
               i -> md5(array_to_string(t[i+1:i+8],' ')))) AS g
           FROM toks WHERE len(t) >= 8),
         ev AS (SELECT DISTINCT g FROM w WHERE doc_id % 97 = 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
                CAST(count(*) FILTER (WHERE g IN (SELECT g FROM ev))
                  AS BIGINT) AS n_contaminated
         FROM w WHERE doc_id % 97 != 0
         GROUP BY doc_id ORDER BY doc_id"""),

    // t20: t18's window machinery with POSITIONS kept — DuckDB zips
    // two same-length unnests positionally, then the identical
    // gaps-and-islands (position - row_number per doc) and max-run
    // rollup; clean docs surface with max_run 0 via the left join
    Gate("t20_memorization_spans", PipelineQueries.memorization_spans,
      """WITH toks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS t
           FROM documents),
         w AS (SELECT doc_id,
             unnest(range(len(t)-7)) AS i,
             unnest(list_transform(range(len(t)-7),
               j -> md5(array_to_string(t[j+1:j+8],' ')))) AS g
           FROM toks WHERE len(t) >= 8),
         ev AS (SELECT DISTINCT g FROM w WHERE doc_id % 97 = 0),
         hits AS (SELECT doc_id, i FROM w
                  WHERE doc_id % 97 != 0 AND g IN (SELECT g FROM ev)),
         isl AS (SELECT doc_id,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
           FROM hits),
         runs AS (SELECT doc_id, count(*) AS run FROM isl
                  GROUP BY doc_id, island),
         mr AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id)
         SELECT b.doc_id, CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_run
         FROM (SELECT doc_id FROM toks
               WHERE len(t) >= 8 AND doc_id % 97 != 0) b
         LEFT JOIN mr ON mr.doc_id = b.doc_id
         ORDER BY b.doc_id"""),

    // d15: the d02 exhaustive ground truth restricted to cross-parity
    // (odd batch → even corpus) pairs — the recall gate for the
    // incremental banded probe
    Gate("d15_incremental_neardup", PipelineQueries.incremental_neardup,
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(
                 [substr(t, i, 5) FOR i IN range(1, greatest(length(t)-4, 1) + 1)]
               )) AS sh FROM d),
         sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
                 count(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh
               WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
               GROUP BY 1, 2)
         SELECT batch_id, corpus_id, CAST(inter AS INTEGER) AS inter,
                CAST(sa.n + sb.n - inter AS INTEGER) AS un
         FROM p JOIN sz sa ON sa.doc_id = batch_id
                JOIN sz sb ON sb.doc_id = corpus_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         ORDER BY batch_id, corpus_id"""),

    // t19: JS divergence with the t12 float discipline; the w term is
    // parenthesized EXACTLY as the Spark side computes it
    Gate("t19_js_divergence", PipelineQueries.js_divergence,
      """WITH toks AS (SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         tfs AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cs
           FROM toks GROUP BY 1, 2),
         tfg AS (SELECT term, CAST(count(*) AS BIGINT) AS cg
           FROM toks GROUP BY 1),
         tots AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
           FROM toks GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS ng FROM toks),
         grid AS (SELECT tots.source, tfg.term, tots.ns, tfg.cg,
             coalesce(tfs.cs, 0) AS cs
           FROM tots CROSS JOIN tfg
           LEFT JOIN tfs ON tfs.source = tots.source
             AND tfs.term = tfg.term),
         pq AS (SELECT source,
             CAST(cs AS DOUBLE) / ns AS p,
             cg / ng AS q,
             (CAST(cs AS DOUBLE) / ns + cg / ng) / 2.0 AS m
           FROM grid CROSS JOIN tot),
         w AS (SELECT source,
             CAST(round(CAST(
               CASE WHEN p > 0
                 THEN 0.5 * (p * (log2(p) - log2(m))) ELSE 0.0 END
               + 0.5 * (q * (log2(q) - log2(m)))
               AS DECIMAL(28,10)), 9) AS DOUBLE) AS w
           FROM pq)
         SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                CAST(round(CAST(list_reduce(list_sort(list(w)),
                  (acc, x) -> acc + x) AS DECIMAL(28,10)), 4) AS DOUBLE)
                  AS js
         FROM w GROUP BY source ORDER BY source"""),

    // p13: the persisted p02 component map + p12's integer md5 coin
    // thrown on the COMPONENT id; thresholds are floor(0.90·2³²) and
    // floor(0.95·2³²) as exact integer literals
    Gate("p13_group_split", PipelineQueries.group_split,
      """WITH
         cc AS (SELECT doc_id, comp
                FROM '/tmp/graft_p02_components/sf0.01/*.parquet'),
         a AS (SELECT doc.doc_id, coalesce(cc.comp, doc.doc_id) AS comp
           FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id),
         u AS (SELECT doc_id, comp,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(comp AS VARCHAR)),
                   CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
               * CAST(pow(16, 8 - i) AS BIGINT))) AS u32
           FROM a)
         SELECT doc_id, comp,
                CASE WHEN u32 < 3865470566 THEN 'train'
                     WHEN u32 < 4080218931 THEN 'val'
                     ELSE 'test' END AS split
         FROM u ORDER BY doc_id"""),

    // g10: the persisted p02 component map, singletons included,
    // folded to a (cluster size → clusters, docs) histogram
    Gate("g10_cluster_histogram", PipelineQueries.cluster_histogram,
      """WITH
         cc AS (SELECT doc_id, comp
                FROM '/tmp/graft_p02_components/sf0.01/*.parquet'),
         a AS (SELECT doc.doc_id, coalesce(cc.comp, doc.doc_id) AS comp
           FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id),
         sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize
                FROM a GROUP BY comp)
         SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(count(*) * csize AS BIGINT) AS n_docs
         FROM sz GROUP BY csize ORDER BY csize"""),

    // g09: the g06 3-round LPA replay + integer modularity — per
    // community contrib·4m² = 4·m·L_c − d_c², all BIGINT
    Gate("g09_modularity", PipelineQueries.modularity,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
         r1 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l0 l ON l.id = e.dst GROUP BY 1,2),
         l1 AS (SELECT src AS id, lbl FROM r1
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1),
         r2 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l1 l ON l.id = e.dst GROUP BY 1,2),
         l2 AS (SELECT src AS id, lbl FROM r2
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1),
         r3 AS (SELECT e.src, l.lbl, count(*) AS cnt
                FROM edges e JOIN l2 l ON l.id = e.dst GROUP BY 1,2),
         l3 AS (SELECT src AS id, lbl FROM r3
                QUALIFY row_number() OVER (PARTITION BY src
                  ORDER BY cnt DESC, lbl ASC) = 1),
         deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
                 FROM edges GROUP BY 1),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         intra AS (SELECT la.lbl AS community,
             CAST(count(*) AS BIGINT) AS intra_edges
           FROM pairs p JOIN l3 la ON la.id = p.id_a
           JOIN l3 lb ON lb.id = p.id_b
           WHERE la.lbl = lb.lbl GROUP BY 1),
         degc AS (SELECT l3.lbl AS community,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg.deg) AS BIGINT) AS degree_sum
           FROM l3 JOIN deg ON deg.id = l3.id GROUP BY 1)
         SELECT CAST(degc.community AS BIGINT) AS community, n_nodes,
                CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
                degree_sum,
                CAST(4*mm.m*coalesce(intra.intra_edges, 0)
                  - degree_sum*degree_sum AS BIGINT) AS contrib_x4m2
         FROM degc LEFT JOIN intra USING (community) CROSS JOIN mm
         ORDER BY community"""),

    // g08: symmetric edges, one self-join, distinct union of 1- and
    // 2-hop neighbors (self excluded from the 2-hop leg)
    Gate("g08_twohop", PipelineQueries.twohop,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         two AS (SELECT e1.src AS src, e2.dst AS nb
                 FROM e e1 JOIN e e2 ON e1.dst = e2.src
                 WHERE e1.src <> e2.dst),
         r AS (SELECT DISTINCT src, nb FROM
                 (SELECT src, dst AS nb FROM e UNION ALL
                  SELECT src, nb FROM two))
         SELECT src AS node_id, CAST(count(*) AS BIGINT) AS n_reach2
         FROM r GROUP BY src ORDER BY node_id"""),

    // g11: the hub-salted two-hop must equal the unguarded form
    // on every graph — oracle is g08's verbatim
    Gate("g11_twohop_guarded", PipelineQueries.twohop_guarded,
      """WITH d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         two AS (SELECT e1.src AS src, e2.dst AS nb
                 FROM e e1 JOIN e e2 ON e1.dst = e2.src
                 WHERE e1.src <> e2.dst),
         r AS (SELECT DISTINCT src, nb FROM
                 (SELECT src, dst AS nb FROM e UNION ALL
                  SELECT src, nb FROM two))
         SELECT src AS node_id, CAST(count(*) AS BIGINT) AS n_reach2
         FROM r GROUP BY src ORDER BY node_id"""),

    // g12: the incremental-maintenance gate's oracle recomputes CC
    // FROM SCRATCH over the union of both detectors' edge sets
    // (Jaccard ≥ 0.6 ∪ containment ≥ 0.9) — incremental merge must
    // equal full recompute, label for label
    Gate("g12_incremental_cc", PipelineQueries.incremental_components,
      """WITH RECURSIVE
         d AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)),'\s+')) AS w
           FROM documents),
         jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.6),
         cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20
           WHERE CAST(len(list_intersect(a.w,b.w)) AS DOUBLE)
                 / least(len(a.w), len(b.w)) >= 0.9),
         allp AS (SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM cp),
         edges AS (SELECT id_a AS src, id_b AS dst FROM allp
                   UNION SELECT id_b, id_a FROM allp),
         reach(src, node) AS (
           SELECT src, src FROM (SELECT DISTINCT src FROM edges)
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)
         SELECT src AS doc_id, min(node) AS comp
         FROM reach GROUP BY src ORDER BY doc_id"""),

    Gate("t07_tfidf", PipelineQueries.tfidf,
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1,2),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
           FROM tf GROUP BY 1)
         SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
                CAST(round(CAST(CAST(tf.tf AS DOUBLE)
                  * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                       / CAST(df.doc_freq AS DOUBLE)) AS DECIMAL(20,10)), 6)
                  AS DOUBLE) AS tfidf
         FROM tf JOIN df USING (term)
         ORDER BY doc_id, term"""),

    Gate("t08_repetition", PipelineQueries.repetition,
      """WITH a AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)),'\s+') AS toks
           FROM documents),
         tf AS (SELECT doc_id, unnest(toks) AS term FROM a),
         tfc AS (SELECT doc_id, term, count(*) AS c FROM tf GROUP BY 1,2),
         uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  CAST(max(c) AS BIGINT) AS top_tf
           FROM tfc GROUP BY 1),
         bi AS (SELECT doc_id,
             CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END AS bigrams
           FROM a),
         bic AS (SELECT doc_id, CAST(len(bigrams) AS BIGINT) AS n_bigrams,
                  CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
           FROM bi)
         SELECT uni.doc_id, n_tokens, n_distinct, top_tf,
                CAST(round(CAST(CAST(n_distinct AS DOUBLE)/n_tokens AS DECIMAL(20,10)),4) AS DOUBLE) AS distinct_ratio,
                CAST(round(CAST(CAST(top_tf AS DOUBLE)/n_tokens AS DECIMAL(20,10)),4) AS DOUBLE) AS top_token_share,
                CASE WHEN n_bigrams = 0 THEN 0.0
                  ELSE CAST(round(CAST(1.0 - CAST(n_distinct_bigrams AS DOUBLE)/n_bigrams AS DECIMAL(20,10)),4) AS DOUBLE)
                END AS dup_bigram_frac
         FROM uni JOIN bic ON uni.doc_id = bic.doc_id
         ORDER BY uni.doc_id"""),

    Gate("t05_sql_surface", PipelineQueries.sql_surface,
      s"""WITH sw(sw_lang, sw_word) AS (VALUES ${graft.functions.TextFunctions.stopwords
             .map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
         tok AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),'\\s+')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, sw_lang, count(*) AS hits
           FROM tok JOIN sw ON tok = sw_word GROUP BY 1,2),
         best AS (SELECT doc_id, sw_lang FROM hits
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, sw_lang) = 1),
         f AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_m,
             regexp_split_to_array(trim(lower(text)),'\\s+') AS toks,
             length(text) - length(regexp_replace(text,'[^a-zA-Z0-9\\s]','','g')) AS punct,
             length(regexp_replace(text,'\\s+','','g')) AS alpha_chars
           FROM documents),
         g AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS ws_tokens,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(alpha_chars AS DOUBLE)/len(toks) END AS avg_tl,
             CASE WHEN len(toks)=0 THEN 0.0
                  ELSE CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it'], t))) AS DOUBLE)/len(toks) END AS stop_r,
             CASE WHEN n_chars_m=0 THEN 0.0
                  ELSE CAST(punct AS DOUBLE)/n_chars_m END AS punct_r
           FROM f)
         SELECT d.doc_id AS doc_id,
                coalesce(b.sw_lang,'und') AS pred_lang,
                CAST(round(CAST(0.5*g.stop_r + 0.3*(1.0-g.punct_r)
                      + 0.2*least(g.avg_tl/10.0, 1.0) AS DECIMAL(20,10)), 4) AS DOUBLE) AS quality_score,
                g.ws_tokens AS ws_tokens,
                md5(trim(regexp_replace(lower(d.text),'\\s+',' ','g'))) AS fp
         FROM documents d
         LEFT JOIN best b ON d.doc_id = b.doc_id
         JOIN g ON d.doc_id = g.doc_id
         ORDER BY doc_id"""),

    // p05: the Morton interleave reproduced bit-by-bit in SQL
    Gate("p05_zorder_key", PipelineQueries.zorder_key,
      """WITH s AS (SELECT unnest(generate_series(0, 9)) AS i),
           d AS (SELECT doc_id, doc_id % 1024 AS k1,
                        length(text) % 1024 AS k2
                 FROM documents)
         SELECT d.doc_id,
                CAST(SUM((((k1 >> i) & 1) << (2*i))
                         + (((k2 >> i) & 1) << (2*i+1))) AS BIGINT) AS zkey
         FROM d CROSS JOIN s GROUP BY d.doc_id ORDER BY d.doc_id"""),

    // p06: the oracle recomputes the corpus-frequency boilerplate
    // dedup INDEPENDENTLY (string_split → GROUP BY para HAVING
    // count(DISTINCT doc) >= 5 → NOT IN → ordered string_agg), not
    // from the synthesis closed form — two derivations of the same
    // cleaning semantics must agree on the reassembled text
    Gate("p06_boilerplate", PipelineQueries.boilerplate_clean,
      """WITH d AS (SELECT doc_id,
             'intro-' || CAST(doc_id AS VARCHAR) || ' ' || substr(text,1,48)
               || chr(10)||chr(10) || 'brought to you by the ' || source || ' network'
               || chr(10)||chr(10) || 'all rights reserved worldwide'
               || CASE WHEN doc_id%3=0
                       THEN chr(10)||chr(10) || 'subscribe for updates'
                       ELSE '' END AS t
           FROM documents),
         p AS (SELECT doc_id,
                 unnest(string_split(t, chr(10)||chr(10))) AS para,
                 unnest(generate_series(1,
                   len(string_split(t, chr(10)||chr(10))))) AS pos
               FROM d),
         b AS (SELECT para FROM p GROUP BY para
               HAVING count(DISTINCT doc_id) >= 5),
         tot AS (SELECT doc_id, count(*) AS n_total FROM p GROUP BY doc_id),
         k AS (SELECT doc_id, pos, para FROM p
               WHERE para NOT IN (SELECT para FROM b))
         SELECT k.doc_id,
                string_agg(k.para, chr(10)||chr(10) ORDER BY k.pos) AS clean_text,
                count(*) AS n_kept,
                max(tot.n_total) - count(*) AS n_removed
         FROM k JOIN tot ON k.doc_id = tot.doc_id
         GROUP BY k.doc_id ORDER BY k.doc_id"""),

    // t11: PII splice + scrub — the oracle synthesizes the same raw
    // text, then runs DuckDB's OWN regex engine (RE2) over patterns
    // written in the Java∩RE2 common subset; the redacted text itself
    // hash-compares, not just the counts
    Gate("t11_pii_scrub", PipelineQueries.pii_scrub,
      """WITH d AS (SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
               || '@mail-' || CAST(doc_id%7 AS VARCHAR)
               || '.example.com or call 555-'
               || lpad(CAST(doc_id%1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST(doc_id*3%10000 AS VARCHAR), 4, '0')
               || ' from 10.' || CAST(doc_id%256 AS VARCHAR)
               || '.' || CAST(doc_id*3%256 AS VARCHAR)
               || '.' || CAST(doc_id%250 AS VARCHAR) || '.' AS raw
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                CAST(len(regexp_extract_all(raw,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ip,
                CAST(len(regexp_extract_all(raw,
                  '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
                regexp_replace(regexp_replace(regexp_replace(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
         FROM d ORDER BY doc_id"""),

    // t09: exact in the unsaturated sketch regime; same deterministic
    // (count desc, item asc) cut on both sides
    Gate("t09_topk_sketch", PipelineQueries.topk_sketch,
      """WITH c AS (SELECT json_extract_string(props, '$.k') AS item,
                           count(*) AS est
                    FROM events GROUP BY 1),
           r AS (SELECT item, est,
                   row_number() OVER (ORDER BY est DESC, item ASC) AS rank
                 FROM c)
         SELECT CAST(rank AS INTEGER) AS rank, item, est
         FROM r WHERE rank <= 10 ORDER BY rank"""),

    // t10: the KLL sketch's accuracy CONTRACT is the oracle — the
    // Spark side computes whether each estimate's exact rank interval
    // meets the documented eps bound; the oracle pins all-true. (The
    // sketch values themselves are randomized-compaction outputs and
    // cannot hash-compare.)
    Gate("t10_kll_bound", PipelineQueries.kll_bound,
      """SELECT g, CAST(p AS DOUBLE) AS p, true AS within_bound
         FROM (SELECT DISTINCT l_returnflag AS g FROM lineitem)
         CROSS JOIN (VALUES (0.25), (0.50), (0.75), (0.95)) t(p)
         ORDER BY g, p"""),

    // m03: the WAV round-trip's closed form — the JDK encoder wrote
    // (doc_id % 1000 + 100) frames of 16-bit mono PCM at 8 kHz, so the
    // parsed header must read back exactly this arithmetic
    Gate("m03_audio_meta", PipelineQueries.multimodal_audio,
      """SELECT doc_id,
                CAST(8000 AS INTEGER) AS sample_rate,
                CAST(1 AS INTEGER) AS channels,
                doc_id % 1000 + 100 AS n_frames,
                CAST(round((doc_id % 1000 + 100) * 1000.0 / 8000) AS BIGINT)
                  AS duration_ms,
                'wave' AS format
         FROM documents ORDER BY doc_id"""),

    // m04: the MP4 box round-trip's closed form (timescale 1000 makes
    // the duration math exact)
    Gate("m04_video_meta", PipelineQueries.multimodal_video,
      """SELECT doc_id,
                doc_id % 5000 + 1000 AS duration_ms,
                CAST(doc_id % 3 + 1 AS INTEGER) AS n_tracks,
                'isom' AS brand
         FROM documents ORDER BY doc_id"""),

    Gate("m01_multimodal_meta", PipelineQueries.multimodal_meta,
      """SELECT doc_id,
                octet_length(encode(text)) AS n_bytes,
                octet_length(encode(text))%640 AS width,
                octet_length(encode(text))%480 AS height,
                CASE WHEN octet_length(encode(text))%2=0 THEN 'png' ELSE 'jpeg' END AS format
         FROM documents ORDER BY doc_id"""),

    // m07: the dedup groups' closed form — docs sharing doc_id%97
    // share an identical synth image (distinct colors per key), so
    // content-hash dedup must recover exactly that grouping
    Gate("m07_image_dedup", PipelineQueries.multimodal_image_dedup,
      """WITH g AS (SELECT doc_id, doc_id % 97 AS k FROM documents)
         SELECT min(doc_id) AS keep_id, count(*) AS dups,
                CAST((k % 16) * 2 + 16 AS INTEGER) AS width,
                CAST(k % 24 + 8 AS INTEGER) AS height
         FROM g GROUP BY k ORDER BY keep_id"""),

    // m05: the checkerboard PNG's closed form — even width w means
    // every row holds exactly w/2 pixels of each color, so each
    // channel sum is (w·h/2)(c0+c1) exactly (PNG is lossless; the
    // decoded raster is bit-identical to what the JDK encoder drew)
    Gate("m05_image_pixels", PipelineQueries.multimodal_pixels,
      """WITH d AS (SELECT doc_id,
             CAST((doc_id%16)*2+16 AS INTEGER) AS w,
             CAST(doc_id%24+8 AS INTEGER) AS h,
             (doc_id%256 + doc_id*3%256) AS rr,
             (doc_id*7%256 + doc_id*5%256) AS gg,
             (doc_id*13%256 + doc_id*11%256) AS bb
           FROM documents)
         SELECT doc_id, w AS width, h AS height,
                CAST(w*h//2*rr AS BIGINT) AS sum_r,
                CAST(w*h//2*gg AS BIGINT) AS sum_g,
                CAST(w*h//2*bb AS BIGINT) AS sum_b,
                CAST(299*(w*h//2*rr) + 587*(w*h//2*gg) + 114*(w*h//2*bb)
                     AS BIGINT) AS luma_sum_x1000
         FROM d ORDER BY doc_id"""),

    // m11: the stripe PNG's closed form — column x carries
    // ((id+7x)%256, (id·3+11x)%256, (id·5+13x)%256) constant down the
    // column, so cell (cy,cx) sums to bh·Σ_{x∈block}(…); w,h are
    // multiples of 4, so blocks are exactly w/4 × h/4
    // m12: closed-form replay of the shaded-stripe synth + aHash.
    // The stripe pattern is column-constant, so each cell's luma is
    // (h/4) x its column-band sum and the 16-bit hash repeats each
    // column bit over the 4 rows: ahash = 4369 * sum(bit_cx << cx)
    // (4369 = 1+16+256+4096). The bit compare 16*cell > total reduces
    // exactly to 4*band > band_total (h cancels, all integers).
    // Uniform brightness b cancels from both sides, so same-k docs
    // group regardless of their grade - the operator's claim, replayed
    // independently.
    Gate("m12_phash_dedup", PipelineQueries.multimodal_phash_dedup,
      """WITH d AS (SELECT doc_id, doc_id % 97 AS k,
             CAST((doc_id // 97) % 50 AS BIGINT) AS b,
             CAST(((doc_id % 97) % 12) * 4 + 16 AS INTEGER) AS w
           FROM documents),
         xs AS (SELECT doc_id, k, b, w, unnest(range(w)) AS x FROM d),
         cols AS (SELECT doc_id, CAST(x // (w // 4) AS INTEGER) AS cx,
             ((k + 7*x) % 200) + ((k*3 + 11*x) % 200) + ((k*5 + 13*x) % 200)
               + 3*b AS l
           FROM xs),
         cs AS (SELECT doc_id, cx, sum(l) AS sl FROM cols GROUP BY 1, 2),
         tots AS (SELECT doc_id, sum(sl) AS stot FROM cs GROUP BY doc_id),
         ah AS (SELECT cs.doc_id,
             4369 * sum(CASE WHEN 4 * sl > stot
                        THEN CAST(1 AS BIGINT) << cx ELSE 0 END) AS ahash
           FROM cs JOIN tots ON tots.doc_id = cs.doc_id
           GROUP BY cs.doc_id)
         SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dups,
                CAST(ahash AS BIGINT) AS ahash
         FROM ah GROUP BY ahash ORDER BY keep_id"""),

    Gate("m11_resize", PipelineQueries.multimodal_resize,
      """WITH d AS (SELECT doc_id,
             CAST((doc_id%12)*4+16 AS INTEGER) AS w,
             CAST((doc_id%6)*4+8 AS INTEGER) AS h
           FROM documents),
         xs AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM d),
         cols AS (SELECT doc_id, w, h,
             CAST(x // (w//4) AS INTEGER) AS cx,
             (doc_id + 7*x) % 256 AS r,
             (doc_id*3 + 11*x) % 256 AS g,
             (doc_id*5 + 13*x) % 256 AS b
           FROM xs),
         cs AS (SELECT doc_id, w, h, cx,
             sum(r) AS sr, sum(g) AS sg, sum(b) AS sb
           FROM cols GROUP BY 1,2,3,4)
         SELECT doc_id, CAST(cy.cy AS INTEGER) AS cy, cx,
                CAST((w//4)*(h//4) AS BIGINT) AS px,
                CAST((h//4)*sr AS BIGINT) AS sum_r,
                CAST((h//4)*sg AS BIGINT) AS sum_g,
                CAST((h//4)*sb AS BIGINT) AS sum_b
         FROM cs, (SELECT unnest(range(4)) AS cy) cy
         ORDER BY doc_id, cy, cx"""),

    // m06: the Y4M synth's closed form — frame k's luma plane is the
    // constant (doc_id + 17k) mod 256, so its sum is w·h·that; only
    // even k survives the everyNth=2 sampler
    Gate("m06_y4m_frames", PipelineQueries.multimodal_y4m,
      """WITH d AS (SELECT doc_id,
             CAST((doc_id%8)*2+8 AS INTEGER) AS w,
             CAST((doc_id%6)*2+6 AS INTEGER) AS h,
             doc_id%7+3 AS nf
           FROM documents),
         f AS (SELECT doc_id, w, h,
                 unnest(generate_series(0, nf - 1)) AS k
               FROM d)
         SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
                w AS width, h AS height,
                CAST(w*h*((doc_id + 17*k)%256) AS BIGINT) AS y_sum
         FROM f WHERE k%2 = 0
         ORDER BY doc_id, frame_idx"""),

    // m08: the sawtooth WAV's closed form — sample i of doc d is
    // ((d*31 + 17i) mod 4096) - 2048, so every windowed stat is exact
    // integer arithmetic the oracle can regenerate with generate_series;
    // zero-crossings are within-window sign flips (lag over i)
    Gate("m08_audio_features", PipelineQueries.multimodal_audio_features,
      """WITH d AS (SELECT doc_id, doc_id % 1000 + 100 AS nf FROM documents),
         s AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS i
               FROM d),
         v AS (SELECT doc_id, i, CAST(i // 256 AS INTEGER) AS window_idx,
                 CAST((doc_id*31 + 17*i) % 4096 - 2048 AS INTEGER) AS v
               FROM s),
         w AS (SELECT doc_id, window_idx, i, v,
                 lag(v) OVER (PARTITION BY doc_id, window_idx ORDER BY i)
                   AS pv
               FROM v)
         SELECT doc_id, window_idx,
                CAST(count(*) AS INTEGER) AS n_samples,
                CAST(sum(CAST(v AS BIGINT)*v) AS BIGINT) AS sum_sq,
                CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv<0) <> (v<0))
                              THEN 1 ELSE 0 END) AS INTEGER) AS zero_cross,
                CAST(max(abs(v)) AS INTEGER) AS peak
         FROM w GROUP BY doc_id, window_idx
         ORDER BY doc_id, window_idx"""),

    // m10: silence runs over the same closed-form sawtooth — islands
    // of |v| < 256 lasting >= 4 samples via the i - row_number() trick
    Gate("m10_silence_runs", PipelineQueries.multimodal_silence,
      """WITH d AS (SELECT doc_id, doc_id % 1000 + 100 AS nf FROM documents),
         s AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS i
               FROM d),
         v AS (SELECT doc_id, i,
                 (doc_id*31 + 17*i) % 4096 - 2048 AS v
               FROM s),
         sil AS (SELECT doc_id, i FROM v WHERE abs(v) < 256),
         g AS (SELECT doc_id, i,
                 i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                   AS grp
               FROM sil),
         runs AS (SELECT doc_id, min(i) AS start_sample,
                    count(*) AS n_samples
                  FROM g GROUP BY doc_id, grp),
         keep AS (SELECT doc_id, start_sample, n_samples
                  FROM runs WHERE n_samples >= 4)
         SELECT doc_id,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY start_sample) - 1 AS INTEGER) AS seg_idx,
                CAST(start_sample AS INTEGER) AS start_sample,
                CAST(n_samples AS INTEGER) AS n_samples
         FROM keep ORDER BY doc_id, seg_idx"""),

    // m02: fixed-size byte windows, every 3rd — the oracle reproduces
    // the frame arithmetic (last frame is the remainder)
    Gate("m02_frame_sample", PipelineQueries.multimodal_frames,
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
                    FROM documents),
         f AS (SELECT doc_id, len,
                 unnest(generate_series(0,
                   CAST(ceil(len/256.0) AS BIGINT) - 1)) AS i
               FROM d)
         SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
                CAST(LEAST(256, len - i*256) AS INTEGER) AS n_bytes
         FROM f WHERE i % 3 = 0
         ORDER BY doc_id, frame_idx"""),
  )
}
