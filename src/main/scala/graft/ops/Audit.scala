package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables._

/** Data-quality constraint audit (the Deequ/Great-Expectations shape,
  * public AWS/OSS practice): declarative constraints over the warehouse
  * tables, evaluated into one verdict row each — (check_name, checked,
  * violations, pass). The gate a training-data pipeline runs BEFORE
  * admitting a crawl/CDC batch into the corpus.
  *
  * Scale notes (100 TB posture): every row-level constraint on a table
  * folds into ONE shared aggregate pass over that table (a `sum(when)`
  * per constraint — one scan however many constraints), uniqueness adds
  * the key-distinct term to the same aggregate (Spark plans single
  * count-distinct alongside plain sums without an Expand), and
  * referential integrity is one LEFT join against the distinct parent
  * keys with a null-side count — never a row-by-row lookup. Verdict
  * frames are 1-row; the union is free. */
object Audit {
  /** One-pass row-level checks: each (name, violation-predicate) becomes
    * a verdict row; adding a check adds a `sum(when)` to ONE aggregate,
    * not a scan — the 1-row aggregate then explodes into verdict rows,
    * so the table appears exactly once in the plan (a union of selects
    * over the agg would copy the whole aggregate subtree per row). */
  def rowChecks(df: DataFrame, checks: Seq[(String, Column)],
      uniqueKey: Option[(String, Column)] = None): DataFrame = {
    val sums = checks.zipWithIndex.map { case ((_, bad), ix) =>
      coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(s"v_$ix") } ++
      uniqueKey.map { case (_, k) => count_distinct(k).as("d_u") }.toSeq
    val entries = checks.zipWithIndex.map { case ((n, _), ix) =>
      struct(lit(n).as("check_name"), col(s"v_$ix").as("violations")) } ++
      uniqueKey.map { case (n, _) =>
        struct(lit(n).as("check_name"),
          (col("checked") - col("d_u")).as("violations")) }.toSeq
    df.agg(count(lit(1)).as("checked"), sums: _*)
      .select(col("checked"), explode(array(entries: _*)).as("e"))
      .select(col("e.check_name").as("check_name"), col("checked"),
        col("e.violations").as("violations"))
  }

  /** Referential integrity in one pass: LEFT join the distinct parent
    * keys and count the null side — checked and violations from the
    * same scan (the anti-join twin would split them into two). */
  def fkCheck(name: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String): DataFrame =
    child.select(col(key))
      .join(parent.select(col(pkey).as(key)).distinct()
        .withColumn("__present", lit(1)), Seq(key), "left")
      .agg(count(lit(1)).as("checked"),
        sum(when(col("__present").isNull, 1L).otherwise(0L)).as("violations"))
      .select(lit(name).as("check_name"), col("checked"), col("violations"))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** x48: the warehouse constraint audit — completeness, domain,
    * uniqueness, ranges, derived-column consistency, and the
    * lineitem→orders foreign key, one verdict row per constraint. */
  def x48ConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val li = lineitem(spark, dir)
    val docs = documents(spark, dir)
    val verdicts = Seq(
      rowChecks(e, Seq(
        "events.value_complete" -> col("value").isNull,
        "events.ts_complete" -> col("ts").isNull,
        "events.type_domain" -> !col("event_type").isin(eventTypes: _*)),
        uniqueKey = Some("events.event_id_unique" -> col("event_id"))),
      rowChecks(li, Seq(
        "lineitem.quantity_positive" -> (col("l_quantity") <= 0),
        "lineitem.discount_range" -> (col("l_discount") < 0 || col("l_discount") > 1))),
      fkCheck("lineitem.orderkey_fk", li, "l_orderkey",
        orders(spark, dir), "o_orderkey"),
      rowChecks(docs, Seq(
        "documents.nchars_consistent" -> (col("n_chars") =!= length(col("text")))),
        uniqueKey = Some("documents.doc_id_unique" -> col("doc_id"))))
    verdicts.reduce(_ unionByName _)
      .select(col("check_name"), col("checked"), col("violations"),
        when(col("violations") === 0, 1L).otherwise(0L).as("pass"))
      .orderBy("check_name")
  }

  /** x50: row-level constraint routing — the quarantine file x48's
    * batch verdicts summarize. Every document gets a violation BITMASK
    * (hard constraints: empty text, n_chars drift, missing lang/source,
    * oversize, duplicated doc_id) plus an advisory warn mask (short doc,
    * long doc) that varies on a clean corpus, so the gate exercises the
    * mask arithmetic, not just zeros. A real pipeline splits on
    * `quarantined` and ships the 0-side to the corpus; emitting the
    * verdict for every row (not just violators) is what makes the
    * operator a deterministic, hash-gateable map.
    *
    * Scale notes (100 TB posture): all bits but dup_id are per-row
    * codegen'd expressions on the scan — no shuffle; dup_id rides one
    * doc_id window (the exchange an ingest pipeline already pays to
    * bucket by key). Output ordering is unique because doc_id uniqueness
    * is itself audited (x48); under an actual dup flood the dup bit
    * fires on every copy, so routing stays well-defined even where the
    * sort key ties. */
  def x50Quarantine(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val hard: Seq[Column] = Seq(
      col("text").isNull || col("text") === "",
      col("n_chars").isNull || col("n_chars") =!= length(col("text")),
      col("lang").isNull || col("lang") === "",
      col("source").isNull || col("source") === "",
      col("n_chars") > 100000L,
      count(lit(1)).over(w) > 1)
    val warn: Seq[Column] = Seq(
      // isNotNull guard pins NULL-text to the oracle's NULL-propagating
      // len(string_split(NULL)) -> bit unset, independent of sizeOfNull config.
      col("text").isNotNull && size(split(col("text"), " ")) < 20,
      col("n_chars") >= 400L)
    def maskOf(bits: Seq[Column]): Column = bits.zipWithIndex
      .map { case (c, i) => when(c, lit(1L << i)).otherwise(0L) }.reduce(_ + _)
    documents(spark, dir)
      .select(col("doc_id"), maskOf(hard).as("mask"), maskOf(warn).as("warn_mask"))
      .select(col("doc_id"), col("mask"),
        bit_count(col("mask")).cast(org.apache.spark.sql.types.LongType).as("n_viol"),
        when(col("mask") > 0, 1L).otherwise(0L).as("quarantined"),
        col("warn_mask"))
      // mask/warn_mask tiebreakers: duplicate doc_ids with DIFFERENT
      // payloads both carry the dup bit but can differ on other bits, so
      // doc_id alone would leave tied rows with distinct values unordered
      // under the hash gate. Mirrored in the oracle's ORDER BY.
      .orderBy("doc_id", "mask", "warn_mask")
  }

  /** x74: artifact-freshness audit — the consumer the stamp layer's
    * freeze props ([[Artifacts.readStampFacts]]) were written for. The
    * stamp certifies IDENTITY and INTEGRITY (readStamped's job); it
    * deliberately does not stop a store from outliving corpus growth —
    * that is what freezing means — so corpus-vs-stamp staleness was
    * "the deployment's contract" with no measuring operator. x74
    * measures it (the x33/x66 posture): one row per stamped artifact
    * comparing the FROZEN boundary (the `thr`/`max_id` prop persisted
    * with the store) and row count against what a fresh persist on the
    * CURRENT corpus would stamp, with a fresh 0/1 verdict. Artifacts
    * whose store path is unconfigured audit the would-be-fresh values
    * (frozen = current by construction) — the audit arithmetic itself
    * is what the oracle checks; the configured path is exercised by the
    * doctored-stale negative test.
    *
    * Expected row counts are ARITHMETIC, never a re-derivation: sticky
    * = one row per history doc, labels = one per doc, the IVFADC index
    * = M per vector, s20 stats = one per distinct (query, term) pair
    * (the shared [[TextOps.bm25QueryTerms]] builder — ONE query-set
    * definition across derivation and audit), and the merge table's
    * "rows" are its configured training rounds
    * ([[TextOps.bpeRounds]] — row-count freshness is meaningless for a
    * fixed-k table; the boundary is its signal). The two band indexes
    * and the manifest audit BOUNDARY-ONLY:
    * their row counts are lattice-shaped (capped (band, h) bucket
    * counts — recomputing one means re-running the corpus banding the
    * audit exists to avoid), so like the merges table the freeze
    * boundary is their freshness signal and expected = stamped by
    * convention (0 when unconfigured: no store, no rows to audit). So
    * the audit costs a few 1-row aggregates over id/text projections,
    * no fixpoint, no trainer, no banding, no index build. At 100 TB it
    * reads stamps + corpus stats, exactly what a governance review can
    * afford to run per ingest.
    *
    * The audit matrix iterates the store registry
    * ([[Artifacts.stores]]): one row per store, its current boundary
    * taken from the store's axis and its expected rows from the store's
    * [[Artifacts.Rows]] rule — both required fields, so a store cannot
    * be registered unaudited. Staleness MAGNITUDE rides two
    * derived columns: `arrivals_past_freeze` (current − frozen
    * boundary — how far the corpus grew past the freeze) and
    * `row_drift` (expected − stamped rows — how many rows a fresh
    * persist would add), so a verdict quantifies re-persist urgency
    * instead of a bare 0/1. */
  def x74ArtifactFreshness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import Artifacts.Rows
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val head = d.agg(max(col("doc_id")).as("mx"), count(lit(1)).as("n")).collect()(0)
    val (mx, nDocs) = (head.getLong(0), head.getLong(1))
    val thr = historyThr(mx)
    val nHist = d.filter(col("doc_id") <= thr).count()
    // s20's index is one row per distinct (q_id, term) of the history
    // eval docs (every such term has df ≥ 1 — drawn from history text);
    // the query-set rule is the ONE shared builder, never re-stated
    val nQt = TextOps.bm25QueryTerms(
      d.filter(col("doc_id") <= thr)
        .select(col("doc_id"), split(col("text"), " ").as("w"))).count()
    val eh = table(spark, dir, "embeddings")
      .agg(max(col("vec_id")).as("mxv"), count(lit(1)).as("ne")).collect()(0)
    val (mxV, nEmb) = (eh.getLong(0), eh.getLong(1))
    // the events-axis head: the sketch warehouse freezes at the log's
    // max day and holds one row per active day
    val ev = events(spark, dir).agg(
      max(date_format(to_date(col("ts")), "yyyyMMdd").cast("long")).as("mxd"),
      countDistinct(to_date(col("ts"))).as("nd")).collect()(0)
    val (mxDay, nDays) = (ev.getLong(0), ev.getLong(1))
    val heads = Heads(mx, mxV, mxDay)
    def expectedRows(r: Rows): Option[Long] = r match {
      case Rows.BoundaryOnly => None
      case Rows.Docs         => Some(nDocs)
      case Rows.HistoryDocs  => Some(nHist)
      case Rows.QueryTerms   => Some(nQt)
      case Rows.VectorCodes  => Some(VectorOps.pqM.toLong * nEmb)
      case Rows.EventDays    => Some(nDays)
      case Rows.Rounds       => Some(TextOps.bpeRounds.toLong)
    }
    Artifacts.stores.map { s =>
      val current = heads.at(s.axis)
      Artifacts.configuredPath(spark, s.key) match {
        case Some(p) =>
          val (nRows, props) = Artifacts.readStampFacts(spark, p, s.key)
          val frozen = Artifacts.stampedLong(s, p, props, s.prop)
          val stamped =
            if (s.rows == Rows.Rounds) Artifacts.stampedLong(s, p, props, Rows.Rounds.prop)
            else nRows
          // boundary-only artifacts: expected mirrors stamped, so
          // row_drift is 0 by construction and the boundary carries the
          // verdict
          val expected = expectedRows(s.rows).getOrElse(stamped)
          (s.key, frozen, current, current - frozen, stamped, expected, expected - stamped,
            if (frozen == current && stamped == expected) 1L else 0L)
        case None =>
          val e = expectedRows(s.rows).getOrElse(0L)
          (s.key, current, current, 0L, e, e, 0L, 1L)
      }
    }
      .toDF("artifact", "frozen_boundary", "current_boundary",
        "arrivals_past_freeze", "stamped_rows", "expected_rows",
        "row_drift", "fresh")
      .orderBy("artifact")
  }

  /** The corpus heads a store's boundary axis is measured against:
    * documents, embeddings and events, with the history slice derived
    * from the documents head by the shared 9/10 rule. */
  private final case class Heads(mx: Long, mxV: Long, mxDay: Long) {
    def at(axis: Artifacts.Axis): Long = axis match {
      case Artifacts.History        => historyThr(mx)
      case Artifacts.DocHead        => mx
      case Artifacts.EmbeddingsHead => mxV
      case Artifacts.EventsHead     => mxDay
    }
  }

  /** x77: cross-store COHERENCE audit — the constraint family x74
    * cannot see: x74 audits each store against the CORPUS (is this
    * store stale?); x77 audits the stores against EACH OTHER (are they
    * the same freeze generation?). Eight stores and the manifest serve
    * one lattice, and the defects that slip past per-store freshness are
    * exactly cross-store: a route index banded over a DIFFERENT sticky
    * generation serves splits the sticky table never assigned; a
    * tokenizer or retrieval index frozen at another boundary monitors a
    * model the splits never saw; a label store that doesn't cover the
    * history slice strands the label index's seed. One row per
    * cross-store constraint with both boundary values and a 0/1 pass —
    * the page a deployment reads BEFORE flipping a session to a store
    * set. Unconfigured artifacts audit at their would-be in-session
    * boundaries (their axis heads — every constraint then passes by the
    * shared 9/10 rule, which is what the oracle checks; mixed
    * generations are exercised by the negative test).
    *
    * The rows come from the store registry: every store declares its
    * [[Artifacts.Coherence]] role — a [[Artifacts.Check]] against a
    * typed right side (another store or an axis head), or
    * [[Artifacts.Anchor]], the deliberate, reviewable choice that this
    * store IS the generation others compare against. The role is a
    * required field, so a new store cannot ship outside the coherence
    * matrix unnoticed.
    *
    * Cost shape: stamps only ([[Artifacts.readStampFacts]] per
    * configured store — a meta collect each) plus three 1-row maxes
    * over the corpus axes; no store data is read, no derivation runs.
    * At 100 TB this is free, which is the point: coherence must be
    * checkable on every session flip, not once per audit cycle. */
  def x77StoreCoherence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mx = documents(spark, dir).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // 1 row — the corpus head
    val mxV = table(spark, dir, "embeddings").agg(max(col("vec_id")))
      .collect()(0).getLong(0) // 1 row — the vector-lattice head
    val mxDay = events(spark, dir)
      .agg(max(date_format(to_date(col("ts")), "yyyyMMdd").cast("long")))
      .collect()(0).getLong(0) // 1 row — the events-axis head
    val heads = Heads(mx, mxV, mxDay)
    // one boundary resolution per store (the anchor is the right side
    // of several rows — never re-read its stamp per row)
    val boundary: Map[String, Long] = Artifacts.stores.map { s =>
      s.key -> Artifacts.configuredPath(spark, s.key).fold(heads.at(s.axis)) { p =>
        Artifacts.stampedLong(s, p, Artifacts.readStampFacts(spark, p, s.key)._2, s.prop)
      }
    }.toMap
    Artifacts.stores.flatMap { s =>
      s.coherence match {
        case Artifacts.Check(name, right, op) =>
          val rb = right match {
            case r: Artifacts.Store => boundary(r.key)
            case a: Artifacts.Axis  => heads.at(a)
          }
          val lb = boundary(s.key)
          Some((name, s.key, right.name, lb, rb, if (op(lb, rb)) 1L else 0L))
        case Artifacts.Anchor => None
      }
    }
      .toDF("check_name", "left_artifact", "right_artifact",
        "left_boundary", "right_boundary", "pass")
      .orderBy("check_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x48_constraint_audit" -> x48ConstraintAudit,
    "x50_quarantine" -> x50Quarantine,
    "x74_artifact_freshness" -> x74ArtifactFreshness,
    "x77_store_coherence" -> x77StoreCoherence)

  private val typeList = eventTypes.map(t => s"'$t'").mkString(", ")

  /** x74's oracle: the unconfigured (would-be-fresh) audit — every
    * expected quantity recomputed from the tables with the same
    * arithmetic (9/10 floor boundary, history count, distinct
    * (q_id, term) pairs, M·vectors, the shared round constant; the two
    * band indexes are boundary-only with 0 rows unconfigured), and the
    * two magnitude columns 0 by construction (frozen = current,
    * stamped = expected). */
  private val x74Sql: String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr,
       |         CAST(max(doc_id) AS BIGINT) AS mx,
       |         CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hist
       |      FROM documents, t WHERE doc_id <= t.thr),
       |q AS (SELECT CAST(count(*) AS BIGINT) AS n_qt FROM (
       |  SELECT DISTINCT doc_id, unnest((string_split(text, ' '))[1:3]) AS term
       |  FROM documents, t WHERE doc_id < 5 AND doc_id <= t.thr)),
       |e AS (SELECT CAST(max(vec_id) AS BIGINT) AS mxv,
       |             CAST(count(*) AS BIGINT) AS n_emb FROM embeddings),
       |ev AS (SELECT CAST(strftime(max(CAST(ts AS DATE)), '%Y%m%d') AS BIGINT) AS mxd,
       |              CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd FROM events)
       |SELECT artifact, frozen_boundary, current_boundary,
       |       CAST(0 AS BIGINT) AS arrivals_past_freeze,
       |       stamped_rows, expected_rows,
       |       CAST(0 AS BIGINT) AS row_drift, fresh FROM (
       |  SELECT 's20_stats' AS artifact, t.thr AS frozen_boundary,
       |         t.thr AS current_boundary, q.n_qt AS stamped_rows,
       |         q.n_qt AS expected_rows, CAST(1 AS BIGINT) AS fresh FROM t, q
       |  UNION ALL
       |  SELECT 's18_index', t.thr, t.thr, 0, 0, 1 FROM t
       |  UNION ALL
       |  SELECT 's21_index', t.thr, t.thr, 0, 0, 1 FROM t
       |  UNION ALL
       |  SELECT 'sketch_daily', ev.mxd, ev.mxd, ev.nd, ev.nd, 1 FROM ev
       |  UNION ALL
       |  SELECT 'store_manifest', t.thr, t.thr, 0, 0, 1 FROM t
       |  UNION ALL
       |  SELECT 'x24_labels', t.mx, t.mx, t.n_docs, t.n_docs, 1 FROM t
       |  UNION ALL
       |  SELECT 'x57_index', e.mxv, e.mxv,
       |         CAST(${VectorOps.pqM} * e.n_emb AS BIGINT),
       |         CAST(${VectorOps.pqM} * e.n_emb AS BIGINT), 1 FROM e
       |  UNION ALL
       |  SELECT 'x62b_merges', t.thr, t.thr, ${TextOps.bpeRounds},
       |         ${TextOps.bpeRounds}, 1 FROM t
       |  UNION ALL
       |  SELECT 'x68_sticky', t.thr, t.thr, h.n_hist, h.n_hist, 1 FROM t, h
       |) ORDER BY artifact""".stripMargin

  /** x77's oracle: the unconfigured (single-generation) coherence audit
    * — every boundary recomputed with the shared 9/10 arithmetic, every
    * constraint passing by construction. */
  private val x77Sql: String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr,
       |         CAST(max(doc_id) AS BIGINT) AS mx
       |  FROM documents),
       |e AS MATERIALIZED (SELECT CAST(max(vec_id) AS BIGINT) AS mxv FROM embeddings),
       |ev AS MATERIALIZED (
       |  SELECT CAST(strftime(max(CAST(ts AS DATE)), '%Y%m%d') AS BIGINT) AS mxd FROM events)
       |SELECT check_name, left_artifact, right_artifact,
       |       left_boundary, right_boundary, pass FROM (
       |  SELECT 'route_index_matches_sticky' AS check_name,
       |         's18_index' AS left_artifact, 'x68_sticky' AS right_artifact,
       |         t.thr AS left_boundary, t.thr AS right_boundary,
       |         CAST(1 AS BIGINT) AS pass FROM t
       |  UNION ALL
       |  SELECT 'ivf_index_matches_embeddings', 'x57_index', 'embeddings_head',
       |         e.mxv, e.mxv, 1 FROM e
       |  UNION ALL
       |  SELECT 'label_index_inside_labels', 's21_index', 'x24_labels',
       |         t.thr, t.mx, 1 FROM t
       |  UNION ALL
       |  SELECT 'merges_match_sticky', 'x62b_merges', 'x68_sticky',
       |         t.thr, t.thr, 1 FROM t
       |  UNION ALL
       |  SELECT 'retrieval_stats_match_sticky', 's20_stats', 'x68_sticky',
       |         t.thr, t.thr, 1 FROM t
       |  UNION ALL
       |  SELECT 'sketches_match_events', 'sketch_daily', 'events_head',
       |         ev.mxd, ev.mxd, 1 FROM ev
       |  UNION ALL
       |  SELECT 'labels_cover_history', 'x24_labels', 'x68_sticky',
       |         t.mx, t.thr, 1 FROM t
       |  UNION ALL
       |  SELECT 'manifest_matches_sticky', 'store_manifest', 'x68_sticky',
       |         t.thr, t.thr, 1 FROM t
       |) ORDER BY check_name""".stripMargin

  val oracle: Map[String, String] = Map(
    "x74_artifact_freshness" -> x74Sql,
    "x77_store_coherence" -> x77Sql,
    "x48_constraint_audit" ->
      s"""WITH v AS (
         |  SELECT 'events.value_complete' AS check_name, count(*) AS checked,
         |    count(*) - count(value) AS violations FROM events
         |  UNION ALL SELECT 'events.ts_complete', count(*),
         |    count(*) - count(ts) FROM events
         |  UNION ALL SELECT 'events.type_domain', count(*),
         |    sum(CASE WHEN event_type NOT IN ($typeList) THEN 1 ELSE 0 END) FROM events
         |  UNION ALL SELECT 'events.event_id_unique', count(*),
         |    count(*) - count(DISTINCT event_id) FROM events
         |  UNION ALL SELECT 'lineitem.quantity_positive', count(*),
         |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) FROM lineitem
         |  UNION ALL SELECT 'lineitem.discount_range', count(*),
         |    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) FROM lineitem
         |  UNION ALL SELECT 'lineitem.orderkey_fk', (SELECT count(*) FROM lineitem),
         |    (SELECT count(*) FROM lineitem l
         |      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         |  UNION ALL SELECT 'documents.nchars_consistent', count(*),
         |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) FROM documents
         |  UNION ALL SELECT 'documents.doc_id_unique', count(*),
         |    count(*) - count(DISTINCT doc_id) FROM documents)
         |SELECT check_name, CAST(checked AS BIGINT) AS checked,
         |  CAST(violations AS BIGINT) AS violations,
         |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM v ORDER BY check_name""".stripMargin,
    "x50_quarantine" ->
      """WITH m AS (
        |  SELECT doc_id,
        |      (CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars IS NULL OR n_chars <> length(text) THEN 2 ELSE 0 END)
        |    + (CASE WHEN lang IS NULL OR lang = '' THEN 4 ELSE 0 END)
        |    + (CASE WHEN source IS NULL OR source = '' THEN 8 ELSE 0 END)
        |    + (CASE WHEN n_chars > 100000 THEN 16 ELSE 0 END)
        |    + (CASE WHEN count(*) OVER (PARTITION BY doc_id) > 1 THEN 32 ELSE 0 END) AS mask,
        |      (CASE WHEN len(string_split(text, ' ')) < 20 THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars >= 400 THEN 2 ELSE 0 END) AS warn_mask
        |  FROM documents)
        |SELECT doc_id, CAST(mask AS BIGINT) AS mask,
        |  CAST(bit_count(CAST(mask AS BIGINT)) AS BIGINT) AS n_viol,
        |  CAST(CASE WHEN mask > 0 THEN 1 ELSE 0 END AS BIGINT) AS quarantined,
        |  CAST(warn_mask AS BIGINT) AS warn_mask
        |FROM m ORDER BY doc_id, mask, warn_mask""".stripMargin)
}
