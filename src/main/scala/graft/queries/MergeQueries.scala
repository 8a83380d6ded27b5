package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MergeTable.{changesBetween, dropColumn, history, latestManifest, mergeDelete, mergeUpsert, optimize, read, readVersion, renameColumn, restore, scratchTable}
import graft.sources.Tables

/** The oracled queries over the [[graft.ops.MergeTable]] format: each
  * `*Digest` reads a deterministic fixture table and each `*Sql` is its
  * DuckDB oracle text, both registered by [[graft.SparkEntry]]. Every
  * fixture is a per-session scratch table built once through
  * [[graft.ops.MergeTable.scratchTable]]; the oracles rebuild the same
  * outcome from the raw `events` table, so they know nothing about the
  * format's protocol, layout or strategy.
  */
object MergeQueries {

  /** The per-event_type count and value digest most fixtures are read
    * through. */
  private def byEventType(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")

  // ---- oracled round-trip over the merged table ---------------------------

  /** Five deterministic commits over `events` — the shared fixture behind
    * seven queries (`q_merge_upsert`, `q_merge_cdf`, `q_merge_cdf_pre`,
    * `q_dsv2_read`, `q_cdf_tvf`, `q_cdf_since_ts`, `q_cdf_net`): full
    * load (v0), two overlapping update waves (v1, v2), a keyed DELETE
    * (v3), and an insert-only wave (v4). Built once per (session, input);
    * all seven read committed versions of the same table. NEVER vacuumed
    * by the fixture: the registered queries time-travel to v0 and v2, so
    * any retention policy here must keep retainVersions ≥ 5 (the
    * retention contract spec pins this).
    */
  private def buildMergedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-table") { t =>
      val ev = Tables.read(s, sfDir, "events")
      val keys = Seq("event_id")
      // wave 0: initial full load
      mergeUpsert(s, t, ev, keys, keys, txn = Some(("seed", 0L)))
      // wave 1: ~40% of keys re-delivered with updated payloads
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(5)) < 2)
          .withColumn("value", col("value") + 100.0)
          .withColumn("event_type", lit("updated")),
        keys, keys, txn = Some(("seed", 1L)))
      // wave 2: a second overlapping wave (wins over wave 1 where both hit)
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(7)) === 0)
          .withColumn("value", col("value") + 200.0),
        keys, keys, txn = Some(("seed", 2L)))
      // wave 3: keyed delete (the GDPR sweep) — every %11==3 key purged.
      // MERGE-ON-READ (deletion vectors): the scattered key list touches
      // most files, so the rewrite form would be a near-full-table
      // rewrite; the DV form commits only the position list. The head
      // read (`q_dsv2_read`) then exercises the DV read path, and every
      // feed across v3 (`q_merge_cdf`, `q_merge_cdf_pre`, `q_cdf_tvf`,
      // `q_cdf_since_ts`, `q_cdf_net`) the DV-aware CDF, against oracles
      // that know nothing about the strategy — strategy-independence of
      // the visible rows is exactly the DV contract.
      // v3's commit INSTANT is strictly after v2's BY CONSTRUCTION —
      // tryCommit stamps max(now, parent + 1ms) on every record — so
      // `q_cdf_since_ts`'s startingTimestamp resolution is deterministic
      // at any build speed with no sleep
      mergeDelete(s, t,
        ev.where(pmod(col("event_id"), lit(11)) === 3).select(col("event_id")),
        txn = Some(("seed", 3L)), deletionVectors = true)
      // wave 4: insert-only wave — clones offset past max(event_id), so
      // the no-collision guarantee holds at ANY scale factor (a fixed
      // offset has zero headroom the moment ids outgrow it); the oracle
      // derives the same offset from the same data
      val offset = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(13)) === 0)
          .withColumn("event_id", col("event_id") + offset)
          .withColumn("event_type", lit("cloned"))
          .withColumn("value", col("value") + 500.0),
        keys, keys, txn = Some(("seed", 4L)))
    }

  /** `q_merge_upsert`: TIME-TRAVEL read of version 2 (after the two
    * update waves, before the delete/insert waves that later commits
    * added on top), digested per event_type. Data files are immutable and
    * commits only drop references, so v2 must read back exactly as it was
    * committed no matter what happened after — any row lost, duplicated,
    * or left at a stale version by the merge protocol breaks the hash.
    * The oracle computes the same last-writer-wins outcome as a CASE over
    * the raw table — protocol-independent by construction. File-level
    * behavior (untouched files by reference, pruning, replay, commit
    * races) is MergeTableSpec territory.
    */
  def mergeUpsertDigest(s: SparkSession, sfDir: String): DataFrame =
    readVersion(s, buildMergedEvents(s, sfDir), 2L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("event_type")

  val mergeUpsertDigestSql: String =
    s"""WITH final AS (
       |  SELECT event_id, user_id,
       |    CASE WHEN event_id % 7 = 0 THEN event_type
       |         WHEN event_id % 5 < 2 THEN 'updated'
       |         ELSE event_type END AS event_type,
       |    CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |         WHEN event_id % 5 < 2 THEN value + 100.0
       |         ELSE value END AS value
       |  FROM events)
       |SELECT event_type, count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users,
       |  round(sum(value), 2) AS value_sum
       |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bloom point-index fixture: `events` keyed by `event_id` but
    * CLUSTERED BY `user_id` — the layout that defeats min/max skipping
    * for event_id equality probes (each user's file spans nearly the
    * whole event_id range), which is exactly the gap the opt-in
    * per-file blooms (`spark.graft.stats.bloomCols = event_id`) close.
    * Two commits (initial load + a user-3 update wave) so the live
    * snapshot can reference more than one `bloom/<commit>` dataset. */
  private def buildBloomEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "bloom-index") { t =>
      val ev = Tables.read(s, sfDir, "events")
      val prior = s.conf.getOption("spark.graft.stats.bloomCols")
      s.conf.set("spark.graft.stats.bloomCols", "event_id")
      try {
        // clusterBy ⊆ keys: the composite (user_id, event_id) key keeps
        // event_id row identity while the LAYOUT follows user_id
        mergeUpsert(s, t, ev, Seq("user_id", "event_id"), Seq("user_id"),
          targetRowsPerFile = 1024, txn = Some(("seed", 0L)))
        mergeUpsert(s, t,
          ev.where(col("user_id") === 3 && pmod(col("event_id"), lit(5)) === 0)
            .withColumn("value", col("value") + 1000.0),
          Seq("user_id", "event_id"), Seq("user_id"),
          targetRowsPerFile = 1024, txn = Some(("seed", 1L)))
      } finally prior match {
        case Some(p) => s.conf.set("spark.graft.stats.bloomCols", p)
        case None => s.conf.unset("spark.graft.stats.bloomCols")
      }
    }

  /** `q_point_lookup`: equality/IN probes through the per-file BLOOM
    * index on a table whose clustering (user_id) is uncorrelated with
    * the probe column (event_id) — min/max boxes cannot refute these
    * probes, the blooms can. The probe set is derived from the data
    * (every %97 key, bounded driver metadata) plus three keys past the
    * id range (the provably-absent path); the oracle recomputes the
    * same rows from the raw table with the update-wave CASE. Value
    * correctness is the oracle's half; the files-opened contract
    * (true-positive files only, flat as the table grows) is pinned by
    * BloomIndexSpec and the ScaleProbe `bloom_prune` row. */
  def pointLookupDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildBloomEvents(s, sfDir)
    val ev = Tables.read(s, sfDir, "events")
    val ids = ev.where(pmod(col("event_id"), lit(97)) === 0)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted
    val absent = ids.lastOption.map(m => Seq(m + 7919L, m + 7920L, m + 7921L))
      .getOrElse(Seq.empty)
    read(s, t)
      .where(col("event_id").isin((ids ++ absent): _*))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy("event_id")
  }

  val pointLookupDigestSql: String =
    s"""SELECT event_id, user_id, event_type,
       |  round(CASE WHEN user_id = 3 AND event_id % 5 = 0
       |             THEN value + 1000.0 ELSE value END, 2) AS value_r
       |FROM events WHERE event_id % 97 = 0
       |ORDER BY event_id""".stripMargin

  /** `q_merge_cdf`: the table's CHANGE DATA FEED between version 0 and the
    * latest snapshot, via the file-scoped
    * [[graft.ops.MergeTable.changesBetween]] — INSERTs from the clone
    * wave, DELETEs from the purge wave, UPDATEs from the two payload
    * waves. The oracle rebuilds both versions from
    * the raw table with the same wave CASEs and diffs them IN FULL —
    * protocol-independent, so it also proves the file-scoped diff loses
    * nothing against the full-snapshot semantics.
    */
  def mergeChanges(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildMergedEvents(s, sfDir)
    changesBetween(s, t, 0L, latestManifest(t).get.version,
      Seq("event_type", "value"))
      .orderBy("event_id")
  }

  /** `q_merge_cdf_pre`: the same v0→latest change feed WITH PREIMAGES —
    * every UPDATE/DELETE carries its old payload as `*_pre` columns, so
    * an incremental consumer can retract the previous contribution
    * without re-reading version v−1 (the O(table) read the file-scoped
    * diff eliminated must not sneak back in at the consumer). The oracle
    * is the same protocol-independent full-outer diff, projecting the
    * OLD side's payload alongside the new. */
  def mergeChangesPre(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildMergedEvents(s, sfDir)
    changesBetween(s, t, 0L, latestManifest(t).get.version,
      Seq("event_type", "value"), preimages = true)
      .orderBy("event_id")
  }

  /** `q_merge_conditional`: a guarded PARTIAL merge over its own fixture
    * table — the batch re-delivers every %3==0 event doubled and
    * relabeled 'boosted', under `WHEN MATCHED AND s.value > t.value`
    * with `updateCols = value` only. The digest groups by event_type:
    * any 'boosted' group appearing AT ALL means the partial-update
    * contract leaked the batch's label column; a value that doubled
    * despite value ≤ 0 means the guard leaked. The oracle reconstructs
    * the same outcome as one CASE over the raw table. */
  def mergeConditionalDigest(s: SparkSession, sfDir: String): DataFrame =
    // pinned to v1 (after the guarded-update wave, before the
    // matched-delete wave) — time travel keeps this oracle stable as
    // later waves land on the same fixture
    byEventType(readVersion(s, buildConditionalEvents(s, sfDir), 1L))

  /** `q_merge_matched_delete`: the WHEN MATCHED DELETE clause over the
    * same fixture — wave 2 re-delivers every %5==0 key under a
    * DELETE-ONLY merge guarded by `t.event_type = 'error'`: matched
    * error rows drop, every other matched row must come through
    * UNTOUCHED (a delete-only merge that silently last-writer-wins
    * would break the hash, as would a guard leak). */
  def mergeMatchedDeleteDigest(s: SparkSession, sfDir: String): DataFrame =
    // pinned to v2 (the matched-delete wave's head) — see
    // [[mergeConditionalDigest]] for the pinning rationale
    byEventType(readVersion(s, buildConditionalEvents(s, sfDir), 2L))

  /** `q_merge_nmbs`: the full-sync clause surface — wave 3 re-delivers
    * every EVEN key (original payloads) with all three remaining MERGE
    * clauses at once: a guarded INSERT (`s.value >= 50` re-admits only
    * half of the rows the matched-delete wave dropped), a NOT MATCHED BY
    * SOURCE DELETE (`t.event_type = 'click'` purges stale odd click
    * rows), and a guarded NOT MATCHED BY SOURCE SET (`value + 1000` marks
    * stale odd view rows). Matched rows carry NO matched clause, so they
    * must come through byte-untouched — a last-writer-wins default would
    * revert wave 1's guarded updates to the re-delivered originals and
    * break the hash, as would any clause leaking across its quantifier
    * (insert guard on target rows, NMBS clauses on matched rows). */
  def mergeNmbsDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(read(s, buildConditionalEvents(s, sfDir)))

  /** Two deterministic commits behind `q_merge_conditional`: a full load,
    * then the guarded partial wave (see [[mergeConditionalDigest]]). A
    * separate table from [[buildMergedEvents]] so the other merge
    * queries' version anchors stay untouched. */
  private def buildConditionalEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-conditional") { t =>
      val ev = Tables.read(s, sfDir, "events")
      val keys = Seq("event_id")
      mergeUpsert(s, t, ev, keys, keys, txn = Some(("seed", 0L)))
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(3)) === 0)
          .withColumn("value", col("value") * 2.0)
          .withColumn("event_type", lit("boosted")),
        keys, keys, txn = Some(("seed", 1L)),
        matchedCondition = Some("s.value > t.value"),
        updateCols = Seq("value"))
      // wave 2: DELETE-ONLY matched clause — re-deliver every %5==0 key,
      // drop the matched 'error' rows, leave every other matched row
      // byte-untouched (q_merge_matched_delete reads this head;
      // q_merge_conditional time-travels to v1)
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(5)) === 0),
        keys, keys, txn = Some(("seed", 2L)),
        matchedDeleteCondition = Some("t.event_type = 'error'"))
      // wave 3: full-sync clauses — source = every EVEN key with its
      // ORIGINAL payload. Guarded insert re-admits wave-2 casualties
      // with value >= 50; NMBS delete purges odd 'click' rows; guarded
      // NMBS SET bumps odd 'view' rows by 1000. Matched even rows carry
      // no matched clause and must stay untouched
      // (q_merge_nmbs reads this head; q_merge_matched_delete pins v2)
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(2)) === 0),
        keys, keys, txn = Some(("seed", 3L)),
        insertCondition = Some("s.value >= 50"),
        notMatchedBySourceDeleteCondition = Some("t.event_type = 'click'"),
        notMatchedBySourceSet = Map("value" -> "t.value + 1000.0"),
        notMatchedBySourceCondition = Some("t.event_type = 'view'"))
    }

  /** Four deterministic commits behind `q_merge_restore` (own table — the
    * other merge queries' version anchors stay untouched): v0 full load,
    * v1 a scattered DV purge of every %7==0 key (ENTRY-level mutation,
    * no file rewrite), v2 a destructive overwrite of every %3==0 payload,
    * v3 = RESTORE to v0 — the incident-rollback shape. */
  private def buildRestoredEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-restore") { t =>
      val ev = Tables.read(s, sfDir, "events")
      val keys = Seq("event_id")
      mergeUpsert(s, t, ev, keys, keys, txn = Some(("seed", 0L)))
      mergeDelete(s, t,
        ev.where(pmod(col("event_id"), lit(7)) === 0).select("event_id"),
        deletionVectors = true)
      mergeUpsert(s, t,
        ev.where(pmod(col("event_id"), lit(3)) === 0)
          .withColumn("value", col("value") * -1.0),
        keys, keys, txn = Some(("seed", 1L)))
      val v = restore(t, 0L)
      require(v == 3L, s"restore fixture expected head v3, got v$v")
    }

  /** `q_merge_restore`: incident rollback — after a scattered DV purge
    * (v1) and a destructive payload overwrite (v2), RESTORE to v0
    * commits v3 whose digest must equal the RAW events digest exactly.
    * A restore that missed a DV'd entry (the purged rows stay hidden),
    * kept an overwritten payload, or dropped a file breaks the hash;
    * so would one that rolled the replay watermark back (the fixture's
    * txn-guarded waves would re-apply on rebuild). */
  def mergeRestoreDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(read(s, buildRestoredEvents(s, sfDir)))

  val mergeRestoreDigestSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val mergeConditionalDigestSql: String =
    """WITH final AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 3 = 0 AND value * 2.0 > value
      |         THEN value * 2.0 ELSE value END AS value
      |  FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS value_sum
      |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  val mergeMatchedDeleteDigestSql: String =
    """WITH final AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 3 = 0 AND value * 2.0 > value
      |         THEN value * 2.0 ELSE value END AS value
      |  FROM events),
      |kept AS (
      |  SELECT * FROM final
      |  WHERE NOT (event_id % 5 = 0 AND event_type = 'error'))
      |SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS value_sum
      |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin

  val mergeNmbsDigestSql: String =
    """WITH final AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 3 = 0 AND value * 2.0 > value
      |         THEN value * 2.0 ELSE value END AS value
      |  FROM events),
      |kept AS (
      |  SELECT * FROM final
      |  WHERE NOT (event_id % 5 = 0 AND event_type = 'error')),
      |synced AS (
      |  -- odd keys are not matched by the even-key source: click rows
      |  -- purged, view rows bumped; matched even rows untouched
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 2 = 1 AND event_type = 'view'
      |         THEN value + 1000.0 ELSE value END AS value
      |  FROM kept
      |  WHERE NOT (event_id % 2 = 1 AND event_type = 'click')
      |  UNION ALL
      |  -- guarded re-insert of the wave-2 casualties (even %5==0 error
      |  -- keys = %10==0 error keys), original payloads, value >= 50 only
      |  SELECT event_id, event_type, value FROM events
      |  WHERE event_id % 10 = 0 AND event_type = 'error' AND value >= 50)
      |SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS value_sum
      |FROM synced GROUP BY event_type ORDER BY event_type""".stripMargin

  val mergeChangesPreSql: String =
    s"""WITH v0 AS (SELECT event_id, event_type, value FROM events),
       |final AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 7 = 0 THEN event_type
       |         WHEN event_id % 5 < 2 THEN 'updated'
       |         ELSE event_type END AS event_type,
       |    CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |         WHEN event_id % 5 < 2 THEN value + 100.0
       |         ELSE value END AS value
       |  FROM events WHERE event_id % 11 <> 3
       |  UNION ALL
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events),
       |    'cloned', value + 500.0
       |  FROM events WHERE event_id % 13 = 0),
       |diff AS (
       |  SELECT coalesce(f.event_id, o.event_id) AS event_id,
       |    CASE WHEN o.event_id IS NULL THEN 'INSERT'
       |         WHEN f.event_id IS NULL THEN 'DELETE'
       |         WHEN f.event_type <> o.event_type OR f.value <> o.value
       |           THEN 'UPDATE' END AS change_type,
       |    f.event_type AS event_type, f.value AS value,
       |    o.event_type AS event_type_pre, o.value AS value_pre
       |  FROM v0 o FULL OUTER JOIN final f ON o.event_id = f.event_id)
       |SELECT event_id, change_type, event_type, value,
       |  event_type_pre, value_pre
       |FROM diff
       |WHERE change_type IS NOT NULL ORDER BY event_id""".stripMargin

  val mergeChangesSql: String =
    s"""WITH v0 AS (SELECT event_id, event_type, value FROM events),
       |final AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 7 = 0 THEN event_type
       |         WHEN event_id % 5 < 2 THEN 'updated'
       |         ELSE event_type END AS event_type,
       |    CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |         WHEN event_id % 5 < 2 THEN value + 100.0
       |         ELSE value END AS value
       |  FROM events WHERE event_id % 11 <> 3
       |  UNION ALL
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events),
       |    'cloned', value + 500.0
       |  FROM events WHERE event_id % 13 = 0),
       |diff AS (
       |  SELECT coalesce(f.event_id, o.event_id) AS event_id,
       |    CASE WHEN o.event_id IS NULL THEN 'INSERT'
       |         WHEN f.event_id IS NULL THEN 'DELETE'
       |         WHEN f.event_type <> o.event_type OR f.value <> o.value
       |           THEN 'UPDATE' END AS change_type,
       |    f.event_type AS event_type, f.value AS value
       |  FROM v0 o FULL OUTER JOIN final f ON o.event_id = f.event_id)
       |SELECT event_id, change_type, event_type, value FROM diff
       |WHERE change_type IS NOT NULL ORDER BY event_id""".stripMargin

  // ---- SQL surface queries: DSv2 read + MERGE INTO ------------------------

  /** `q_dsv2_read`: the SAME five-wave fixture as `q_merge_upsert`, read
    * through the DataSource V2 door — `spark.read.format("graft")` with a
    * non-cluster-column predicate pushed into the scan
    * ([[graft.ops.StatsPruning]] consults every file's `value` box before
    * any parquet footer opens)
    * and deletion-vector masking applied by the inline snapshot read
    * ([[graft.plans.GraftScanStrategy]]).
    * The oracle reconstructs the latest snapshot protocol-independently,
    * so a DSv2 path that dropped a DV (resurrecting purged rows), leaked
    * a hidden `__dv_*` column, read a stale version, or over-pruned a
    * file breaks the hash against the same numbers `readVersion` has to
    * produce. */
  def dsv2ReadDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(s.read.format("graft").load(buildMergedEvents(s, sfDir))
      .where(col("value") >= 300.0))

  val dsv2ReadDigestSql: String =
    s"""WITH final AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 7 = 0 THEN event_type
       |         WHEN event_id % 5 < 2 THEN 'updated'
       |         ELSE event_type END AS event_type,
       |    CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |         WHEN event_id % 5 < 2 THEN value + 100.0
       |         ELSE value END AS value
       |  FROM events WHERE event_id % 11 <> 3
       |  UNION ALL
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events),
       |    'cloned', value + 500.0
       |  FROM events WHERE event_id % 13 = 0)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum
       |FROM final WHERE value >= 300.0
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** `q_agg_pushdown`: count(*)/count(col)/min/max through the DSv2 door
    * over the (DV-free, all-files-stats-indexed) z-ordered fixture —
    * answered ENTIRELY from the manifest ([[graft.sources.ManifestAgg]]),
    * zero parquet files opened. The oracle computes the same aggregates
    * from the raw table, so a stale bound, a null-count slip, or a
    * missed file in the fold breaks the hash; GraftDataSourceSpec pins
    * the zero-files-scanned property itself. */
  def aggPushdownDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildZorderedEvents(s, sfDir)
    s.read.format("graft").load(t).agg(
      count(lit(1)).as("n_rows"),
      count(col("props")).as("n_props"),
      min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"),
      min(col("gx")).as("min_gx"),
      max(col("gy")).as("max_gy"))
  }

  val aggPushdownDigestSql: String =
    s"""SELECT count(*) AS n_rows, count(props) AS n_props,
       |  min(event_id) AS min_id, max(event_id) AS max_id,
       |  min(value) AS min_value, max(value) AS max_value,
       |  min(event_id % 64) AS min_gx,
       |  max((event_id // 64) % 64) AS max_gy
       |FROM events""".stripMargin

  /** `q_agg_pushdown_sum`: SUM and AVG through the DSv2 door over the
    * same DV-free fixture — answered from the manifest's per-file EXACT
    * sums ([[graft.sources.ManifestAgg]]; zero parquet files opened,
    * GraftDataSourceSpec pins the zero-scan property). The round(avg)
    * sits ABOVE the aggregate, so the pushdown still sees the bare Avg;
    * the oracle recomputes both from the raw table (DuckDB sums integers
    * in hugeint — the CAST matches Spark's LongType sum). */
  def aggPushdownSumDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildZorderedEvents(s, sfDir)
    s.read.format("graft").load(t).agg(
        sum(col("event_id")).as("sum_id"),
        avg(col("event_id")).as("avg_id_raw"),
        sum(col("gx")).as("sum_gx"),
        avg(col("gy")).as("avg_gy_raw"),
        count(lit(1)).as("n_rows"))
      .select(col("sum_id"), round(col("avg_id_raw"), 4).as("avg_id"),
        col("sum_gx"), round(col("avg_gy_raw"), 4).as("avg_gy"),
        col("n_rows"))
  }

  val aggPushdownSumDigestSql: String =
    s"""SELECT CAST(sum(event_id) AS BIGINT) AS sum_id,
       |  round(avg(event_id), 4) AS avg_id,
       |  CAST(sum(event_id % 64) AS BIGINT) AS sum_gx,
       |  round(avg((event_id // 64) % 64), 4) AS avg_gy,
       |  count(*) AS n_rows
       |FROM events""".stripMargin

  /** Fixture behind `q_agg_pushdown_dv`: events seeded in one commit,
    * then every 97th key DELETED merge-on-read (deletion vectors — no
    * file rewritten). The DV commit records the masked rows' per-column
    * deltas, which is exactly what the registered query's metadata-only
    * answer rests on. */
  private def buildDvEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "dv-agg-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      val purged = mergeDelete(s, t,
        ev.where(pmod(col("event_id"), lit(97)) === 0).select("event_id"),
        deletionVectors = true, txn = Some(("purge", 1L)))
      require(purged > 0, "the DV fixture must mask at least one row")
    }

  /** `q_agg_pushdown_dv`: SUM / AVG / count(col) / count(*) over a
    * snapshot carrying DELETION VECTORS — still answered entirely from
    * the manifest (the masked rows' recorded deltas subtract; zero
    * parquet files opened, the spec-pinned property), hash-matched
    * against the oracle's filtered reconstruction of the raw table. */
  def aggPushdownDvDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildDvEvents(s, sfDir)
    s.read.format("graft").load(t).agg(
        sum(col("event_id")).as("sum_id"),
        avg(col("event_id")).as("avg_id_raw"),
        count(col("props")).as("n_props"),
        count(lit(1)).as("n_rows"))
      .select(col("sum_id"), round(col("avg_id_raw"), 4).as("avg_id"),
        col("n_props"), col("n_rows"))
  }

  val aggPushdownDvDigestSql: String =
    s"""SELECT CAST(sum(event_id) AS BIGINT) AS sum_id,
       |  round(avg(event_id), 4) AS avg_id,
       |  count(props) AS n_props, count(*) AS n_rows
       |FROM events WHERE event_id % 97 <> 0""".stripMargin

  /** Fixture behind `q_insert_overwrite`: a table seeded with every
    * event, then SQL `INSERT OVERWRITE` (through the analyzer door —
    * physically a [[graft.ops.MergeTable.replaceAll]] no-join
    * full-replace commit) with a filtered, value-shifted SELECT. The registered query reads the
    * post-overwrite head, so the oracle (direct evaluation of the same
    * SELECT over the raw table) breaks on any row the replace lost,
    * kept or mutated. */
  private def buildOverwrittenEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "insert-overwrite-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      ev.createOrReplaceTempView("graft_insow_src")
      s.sql(
        s"""INSERT OVERWRITE graft.`$t`
           |SELECT event_id, event_type, value + 1000.0 AS value
           |FROM graft_insow_src WHERE event_id % 3 = 0""".stripMargin)
    }

  /** `q_insert_overwrite`: the post-overwrite head — exactly the
    * SELECT's rows, nothing from the seeded state surviving. */
  def insertOverwriteDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildOverwrittenEvents(s, sfDir)
    s.read.format("graft").load(t).agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("value")), 2).as("sum_value"),
      min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"),
      count(when(col("event_id") % 3 =!= 0, 1)).as("n_leaked"))
  }

  val insertOverwriteDigestSql: String =
    s"""SELECT count(*) AS n_rows,
       |  round(sum(value + 1000.0), 2) AS sum_value,
       |  min(event_id) AS min_id, max(event_id) AS max_id,
       |  CAST(0 AS BIGINT) AS n_leaked
       |FROM events WHERE event_id % 3 = 0""".stripMargin

  /** Fixture behind `q_agg_pushdown_minmax_dv`: events written with the
    * OPT-IN min/max ledgers (`spark.graft.stats.ledgerK` = 8), then a
    * merge-on-read purge masks the three smallest AND three largest
    * event_ids — exactly the rows whose masking forced the pre-ledger
    * engine to refuse min/max back to a full scan. */
  private def buildLedgerEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "ledger-agg-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
      s.conf.set("spark.graft.stats.ledgerK", "8")
      try mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      finally s.conf.unset("spark.graft.stats.ledgerK")
      val extremes = ev.select("event_id").orderBy(col("event_id")).limit(3)
        .unionByName(
          ev.select("event_id").orderBy(col("event_id").desc).limit(3))
      val purged = mergeDelete(s, t, extremes,
        deletionVectors = true, txn = Some(("purge", 1L)))
      require(purged == 6, s"the ledger fixture must mask 6 rows, got $purged")
    }

  /** `q_agg_pushdown_minmax_dv`: min/max over a snapshot whose EXTREME
    * rows are deletion-vector-masked — answered entirely from the
    * manifest through the opt-in bottom-k/top-k ledgers (the masked
    * prefixes subtract; zero parquet files opened, the spec-pinned
    * property), hash-matched against the oracle's reconstruction. */
  def aggPushdownMinMaxDvDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildLedgerEvents(s, sfDir)
    s.read.format("graft").load(t).agg(
      min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
      min(col("value")).as("min_value"), max(col("value")).as("max_value"),
      count(lit(1)).as("n_rows"))
  }

  val aggPushdownMinMaxDvDigestSql: String =
    s"""SELECT min(event_id) AS min_id, max(event_id) AS max_id,
       |  min(value) AS min_value, max(value) AS max_value,
       |  count(*) AS n_rows
       |FROM events
       |WHERE event_id NOT IN
       |  (SELECT event_id FROM events ORDER BY event_id ASC LIMIT 3)
       |  AND event_id NOT IN
       |  (SELECT event_id FROM events ORDER BY event_id DESC LIMIT 3)""".stripMargin

  /** Fixture behind `q_optimize_split`: events landed in ONE interleaved
    * commit (every file's `gs` box spans all groups — grouped pushdown
    * must refuse), then `OPTIMIZE SPLIT BY gs` re-lays every live file
    * into per-value POINT files via the exact hash-preimage router. The
    * registered query reads the POST-rewrite head, so the oracle (raw-
    * table reconstruction that never saw the rewrite) breaks on any row
    * lost, duplicated, or mutated by the re-layout. */
  private def buildSplitOptimizedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "split-optimize-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
        .withColumn("gs", pmod(col("event_id"), lit(6)))
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      optimize(s, t, splitBy = Seq("gs"))
    }

  /** `q_optimize_split`: `GROUP BY gs` aggregates over the split-
    * optimized head — answered from the manifest (every post-rewrite
    * file is a `gs` point; GraftDataSourceSpec pins the zero-files-
    * scanned property), hash-matched against the raw table. */
  def optimizeSplitDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildSplitOptimizedEvents(s, sfDir)
    s.read.format("graft").load(t)
      .groupBy(col("gs"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("gs")
  }

  val optimizeSplitDigestSql: String =
    s"""SELECT event_id % 6 AS gs, count(*) AS n_rows,
       |  min(event_id) AS min_id, max(event_id) AS max_id,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM events GROUP BY gs ORDER BY gs""".stripMargin

  /** `q_agg_pushdown_filtered`: a WHERE on the split column UNDER the
    * grouped aggregate — the filter is row-exact at the file level on
    * the point-filed layout, so the scan CLAIMS it and the whole query
    * (filter + GROUP BY + aggregates) answers from the manifest with
    * zero files opened (GraftDataSourceSpec pins the zero-scan
    * property). The oracle replays filter and aggregation over the raw
    * table. */
  def aggPushdownFilteredDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildSplitOptimizedEvents(s, sfDir)
    s.read.format("graft").load(t)
      .where(col("gs") >= 2L && col("gs") < 5L)
      .groupBy(col("gs"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        max(col("value")).as("max_value"))
      .orderBy("gs")
  }

  val aggPushdownFilteredDigestSql: String =
    s"""SELECT event_id % 6 AS gs, count(*) AS n_rows,
       |  min(event_id) AS min_id, max(event_id) AS max_id,
       |  max(value) AS max_value
       |FROM events WHERE event_id % 6 >= 2 AND event_id % 6 < 5
       |GROUP BY gs ORDER BY gs""".stripMargin

  /** Fixture behind `q_agg_pushdown_group`: events landed PER GROUP — one
    * transactional commit per `gx` bucket, each commit's key range
    * disjoint from every other's (ids offset by bucket), so no commit
    * rewrites another's files and EVERY data file's `gx` box is a POINT
    * with zero nulls. This is the identity-partitioned ingest shape
    * (daily loads, per-tenant loads) whose grouped aggregates the
    * manifest can answer exactly. */
  private def buildGroupedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "grouped-agg-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
      val offset = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
      (0 until 8).foreach { g =>
        val wave = ev.where(pmod(col("event_id"), lit(8)) === g)
          .select(
            (col("event_id") + lit(g.toLong) * offset).as("event_id"),
            pmod(col("event_id"), lit(8)).as("gx"),
            col("event_type"), col("value"))
        mergeUpsert(s, t, wave, Seq("event_id"), Seq("event_id"),
          txn = Some(("grouped-seed", g.toLong)))
      }
    }

  /** `q_agg_pushdown_group`: `GROUP BY gx` count/count(col)/min/max
    * through the DSv2 door over the per-group-committed fixture —
    * answered ENTIRELY from the manifest ([[graft.sources.ManifestAgg]]'s
    * grouped path: every file's `gx` box is a point, so the groups
    * partition the file set), zero parquet files opened. The oracle
    * replays the id-offset derivation over the raw table;
    * GraftDataSourceSpec pins the zero-files-scanned property. */
  def aggPushdownGroupDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildGroupedEvents(s, sfDir)
    s.read.format("graft").load(t)
      .groupBy(col("gx"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("gx")
  }

  val aggPushdownGroupDigestSql: String =
    s"""SELECT event_id % 8 AS gx, count(*) AS n_rows,
       |  min(event_id + (event_id % 8) * (SELECT max(event_id) + 1 FROM events))
       |    AS min_id,
       |  max(event_id + (event_id % 8) * (SELECT max(event_id) + 1 FROM events))
       |    AS max_id,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM events GROUP BY gx ORDER BY gx""".stripMargin

  /** `q_cdf_tvf`: the change data feed through the `graft_changes` SQL
    * table function over the five-wave fixture's DELETE (v3, deletion-
    * vector-committed) and INSERT (v4) versions — per-version change
    * typing, NULL payloads on deletes, preimage sums, and the TVF's
    * analysis-time plan construction all sit on the oracle path. The
    * oracle reconstructs both waves' effects from the raw table. */
  def cdfTvfDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildMergedEvents(s, sfDir)
    s.sql(
      s"""SELECT _commit_version, change_type, count(*) AS n_changes,
         |  round(sum(coalesce(value, 0.0)), 2) AS value_sum,
         |  round(sum(coalesce(value_pre, 0.0)), 2) AS pre_sum
         |FROM graft_changes('$t', 3, 4)
         |GROUP BY _commit_version, change_type
         |ORDER BY _commit_version, change_type""".stripMargin)
  }

  /** `q_cdf_since_ts`: the batch CDF door started by WALL-CLOCK instant
    * — `startingTimestamp` = v3's recorded commit time resolves to the
    * earliest version committed at or after it (v3; the fixture
    * guarantees a strict instant gap below it), so the digest equals
    * the version-ranged v3..head read and hash-matches the same
    * reconstruction oracle as the TVF digest. */
  def cdfSinceTsDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildMergedEvents(s, sfDir)
    val ts = history(t).find(_.version == 3L).get.timestampMs
    s.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp", ts.toString).load(t)
      .groupBy(col("_commit_version"), col("change_type"))
      .agg(count(lit(1)).as("n_changes"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("value_sum"),
        round(sum(coalesce(col("value_pre"), lit(0.0))), 2).as("pre_sum"))
      .orderBy(col("_commit_version"), col("change_type"))
  }

  /** `q_cdf_net`: the batch CDF door with `coalesceDiffs` — ONE net
    * endpoint diff of (v0, head] instead of four per-version plans.
    * Classification, the last-writer-wins value fold (wave 2's +200
    * overwrites wave 1's +100 where both hit), NULL delete payloads and
    * v0-side preimages all sit on the oracle path; the oracle
    * reconstructs the same net outcome from the raw table with the wave
    * CASEs. The transient states the net folds away (wave 1's value on
    * a wave-2 key) must NOT appear — a per-version leak breaks the
    * hash. */
  def cdfNetDigest(s: SparkSession, sfDir: String): DataFrame = {
    val t = buildMergedEvents(s, sfDir)
    s.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "1").option("coalesceDiffs", "true")
      .load(t)
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_changes"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("value_sum"),
        round(sum(coalesce(col("value_pre"), lit(0.0))), 2).as("pre_sum"))
      .orderBy("change_type")
  }

  val cdfNetDigestSql: String =
    s"""WITH upd AS (
       |  SELECT 'UPDATE' AS change_type, count(*) AS n_changes,
       |    round(sum(CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |                   ELSE value + 100.0 END), 2) AS value_sum,
       |    round(sum(value), 2) AS pre_sum
       |  FROM events
       |  WHERE (event_id % 5 < 2 OR event_id % 7 = 0)
       |    AND event_id % 11 <> 3),
       |del AS (
       |  SELECT 'DELETE' AS change_type, count(*) AS n_changes,
       |    round(sum(0.0), 2) AS value_sum,
       |    round(sum(value), 2) AS pre_sum
       |  FROM events WHERE event_id % 11 = 3),
       |ins AS (
       |  SELECT 'INSERT' AS change_type, count(*) AS n_changes,
       |    round(sum(value + 500.0), 2) AS value_sum,
       |    round(sum(0.0), 2) AS pre_sum
       |  FROM events WHERE event_id % 13 = 0)
       |SELECT * FROM upd UNION ALL SELECT * FROM del
       |UNION ALL SELECT * FROM ins ORDER BY change_type""".stripMargin

  val cdfTvfDigestSql: String =
    s"""WITH v2 AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 7 = 0 THEN value + 200.0
       |         WHEN event_id % 5 < 2 THEN value + 100.0
       |         ELSE value END AS value
       |  FROM events),
       |del AS (
       |  SELECT 3 AS _commit_version, 'DELETE' AS change_type,
       |    count(*) AS n_changes, round(sum(0.0), 2) AS value_sum,
       |    round(sum(value), 2) AS pre_sum
       |  FROM v2 WHERE event_id % 11 = 3),
       |ins AS (
       |  SELECT 4 AS _commit_version, 'INSERT' AS change_type,
       |    count(*) AS n_changes, round(sum(value + 500.0), 2) AS value_sum,
       |    round(sum(0.0), 2) AS pre_sum
       |  FROM events WHERE event_id % 13 = 0)
       |SELECT * FROM del UNION ALL SELECT * FROM ins
       |ORDER BY _commit_version, change_type""".stripMargin

  /** Fixture behind `q_write_door`: the table is created and updated
    * ENTIRELY through `df.write.format("graft")` — the first save pins
    * the keys, a second `SaveMode.Append` save upserts a boosted wave —
    * so the provider's write door (external-metadata probe, V1 fallback,
    * keys option plumbing) sits on the oracle path. */
  private def buildWriteDoorEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "write-door") { t =>
      val ev = Tables.read(s, sfDir, "events")
      ev.write.format("graft").option("keys", "event_id").save(t)
      ev.where(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("value", col("value") + 50.0)
        .withColumn("event_type", lit("bumped"))
        .write.format("graft").mode("append").save(t)
    }

  /** `q_write_door`: digest of the write-door-built head — a dropped
    * wave, a non-upserted key, or a write that bypassed the merge
    * protocol breaks the hash. */
  def writeDoorDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(s.read.format("graft").load(buildWriteDoorEvents(s, sfDir)))

  val writeDoorDigestSql: String =
    s"""WITH final AS (
       |  SELECT event_id,
       |    CASE WHEN event_id % 3 = 0 THEN 'bumped' ELSE event_type END
       |      AS event_type,
       |    CASE WHEN event_id % 3 = 0 THEN value + 50.0 ELSE value END
       |      AS value
       |  FROM events)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum
       |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Fixture behind `q_merge_sql`: the table's second version is
    * committed by a real `spark.sql("MERGE INTO graft.`…`")` statement —
    * Spark's parser, the graft catalog resolution,
    * [[graft.ops.GraftMergeRule]]'s command swap, and
    * [[graft.ops.GraftSql]]'s clause translation all sit on the oracle
    * path. The statement exercises ORDERED clause semantics: a
    * guarded partial UPDATE listed before an unconditional DELETE (a
    * matched row passing the guard must update, not delete), plus a
    * guarded INSERT. */
  private def buildSqlMergedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-sql") { t =>
      val ev = Tables.read(s, sfDir, "events")
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      // clone-offset derived from the data (scale-independent, same rule
      // the oracle applies)
      val offset = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
      // matched wave: every %3==0 key doubled and relabeled (the label
      // must NOT land — the UPDATE is partial); insert wave: %17==0
      // clones past the offset, gated on value >= 50
      ev.where(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("value", col("value") * 2.0)
        .withColumn("event_type", lit("boosted"))
        .unionByName(
          ev.where(pmod(col("event_id"), lit(17)) === 0)
            .withColumn("event_id", col("event_id") + offset)
            .withColumn("event_type", lit("sqlnew")))
        .createOrReplaceTempView("graft_sql_batch")
      s.sql(
        s"""MERGE INTO graft.`$t` AS t USING graft_sql_batch AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND s.value > t.value + 50.0 THEN UPDATE SET value = s.value
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND s.value >= 50.0 THEN INSERT *
           |""".stripMargin)
    }

  /** `q_merge_sql`: digest of the SQL-merged head. Matched %3==0 rows
    * with `2v > v+50` double their value but KEEP their event_type (a
    * 'boosted' group appearing means the partial update leaked the batch
    * label); the rest of the matched set deletes (clause order: the
    * statement's UPDATE wins over the later DELETE where both hold);
    * %17==0 clones insert only when `value >= 50`. The oracle replays the
    * same arithmetic on the raw table with IDENTICAL float expressions
    * (`value * 2 > value + 50`), so both engines decide every boundary
    * row from the same double ops. */
  def mergeSqlDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(read(s, buildSqlMergedEvents(s, sfDir)))

  /** Fixture behind `q_merge_sql_expr`: the FULL clause surface in one
    * real `spark.sql` MERGE — an arbitrary-EXPRESSION `UPDATE SET`
    * reading BOTH sides (`t.value + s.value` accumulates), TWO
    * conditional matched clauses with statement-order first-match-wins,
    * and an explicit `INSERT (cols) VALUES (exprs)` column list whose
    * unlisted columns take SQL NULLs. The oracle replays the identical
    * float expressions over the raw table, so every boundary row is
    * decided by the same double ops in both engines. */
  private def buildSqlExprMergedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-sql-expr") { t =>
      val ev = Tables.read(s, sfDir, "events")
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      val offset = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
      // matched wave: every %5==0 key redelivered with value+10; insert
      // wave: %19==0 clones past the offset
      ev.where(pmod(col("event_id"), lit(5)) === 0)
        .withColumn("value", col("value") + 10.0)
        .unionByName(
          ev.where(pmod(col("event_id"), lit(19)) === 0)
            .withColumn("event_id", col("event_id") + offset))
        .createOrReplaceTempView("graft_sqlexpr_batch")
      s.sql(
        s"""MERGE INTO graft.`$t` AS t USING graft_sqlexpr_batch AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND t.event_type = 'error' THEN UPDATE SET
           |  value = t.value + s.value,
           |  event_type = concat(t.event_type, '_acc')
           |WHEN MATCHED THEN UPDATE SET value = greatest(t.value, s.value)
           |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
           |  VALUES (s.event_id, upper(s.event_type), s.value * 0.1)
           |""".stripMargin)
    }

  /** `q_merge_sql_expr`: digest of the expression-merged head. The
    * accumulated `t.value + s.value` rows, the first-match-wins boundary
    * between the two matched clauses, the `greatest` expression, the
    * INSERT expressions, and the NULL-fill of unlisted insert columns
    * (`n_null_user` counts them) each break the hash independently. */
  def mergeSqlExprDigest(s: SparkSession, sfDir: String): DataFrame =
    read(s, buildSqlExprMergedEvents(s, sfDir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"),
        count(when(col("user_id").isNull, lit(1))).as("n_null_user"))
      .orderBy("event_type")

  val mergeSqlExprDigestSql: String =
    s"""WITH kept AS (
       |  SELECT event_id, user_id,
       |    CASE WHEN event_id % 5 = 0 AND event_type = 'error'
       |         THEN event_type || '_acc' ELSE event_type END AS event_type,
       |    CASE WHEN event_id % 5 = 0 AND event_type = 'error'
       |         THEN value + (value + 10.0)
       |         WHEN event_id % 5 = 0
       |         THEN greatest(value, value + 10.0)
       |         ELSE value END AS value
       |  FROM events),
       |ins AS (
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events) AS event_id,
       |    NULL AS user_id, upper(event_type) AS event_type,
       |    value * 0.1 AS value
       |  FROM events WHERE event_id % 19 = 0),
       |final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum,
       |  count(CASE WHEN user_id IS NULL THEN 1 END) AS n_null_user
       |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Fixture behind `q_merge_sql_on`: the generalized ON surface in one
    * real `spark.sql` MERGE — a CROSS-NAMED key (`ON t.event_id =
    * s.src_id`: the source column renames onto the target key, and every
    * `s.src_id` clause reference rewrites with it) and a RESIDUAL
    * conjunct (`AND s.value >= 20.0`) folding into the MATCHED clause
    * condition only. A matched row whose redelivery fails the residual
    * must stay UNTOUCHED; an insert-wave row (key matched nowhere) is
    * NOT MATCHED under any residual value — standard SQL — and must
    * insert regardless of it. */
  private def buildSqlOnMergedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "merge-sql-on") { t =>
      val ev = Tables.read(s, sfDir, "events")
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      val offset = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
      // matched wave: every %7==0 key redelivered with value*3 under the
      // FOREIGN key name; insert wave: %23==0 clones past the offset
      ev.where(pmod(col("event_id"), lit(7)) === 0)
        .withColumn("value", col("value") * 3.0)
        .unionByName(
          ev.where(pmod(col("event_id"), lit(23)) === 0)
            .withColumn("event_id", col("event_id") + offset))
        .withColumnRenamed("event_id", "src_id")
        .createOrReplaceTempView("graft_sqlon_batch")
      s.sql(
        s"""MERGE INTO graft.`$t` AS t USING graft_sqlon_batch AS s
           |ON t.event_id = s.src_id AND s.value >= 20.0
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
           |  VALUES (s.src_id, s.event_type, s.value)
           |""".stripMargin)
    }

  /** `q_merge_sql_on`: digest of the cross-named-ON merged head. A wrong
    * key mapping breaks every group; a residual wrongly folded into the
    * INSERT clauses (the pre-round-15 divergence from standard MERGE)
    * drops the insert-wave rows below 20.0 and breaks `n_events`; the
    * NULL-fill of unlisted insert columns is `n_null_user`. The oracle
    * replays the identical float arithmetic (`value * 3 >= 20`) over the
    * raw table. */
  def mergeSqlOnDigest(s: SparkSession, sfDir: String): DataFrame =
    read(s, buildSqlOnMergedEvents(s, sfDir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"),
        count(when(col("user_id").isNull, lit(1))).as("n_null_user"))
      .orderBy("event_type")

  val mergeSqlOnDigestSql: String =
    s"""WITH kept AS (
       |  SELECT event_id, user_id, event_type,
       |    CASE WHEN event_id % 7 = 0 AND value * 3 >= 20.0
       |         THEN value * 3 ELSE value END AS value
       |  FROM events),
       |ins AS (
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events) AS event_id,
       |    NULL AS user_id, event_type, value
       |  FROM events WHERE event_id % 23 = 0),
       |final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum,
       |  count(CASE WHEN user_id IS NULL THEN 1 END) AS n_null_user
       |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Fixture behind `q_zorder_optimize`: events seeded with two derived
    * integral grid columns, then `OPTIMIZE ZORDER BY (gx, gy)` re-lays
    * every live file on the Morton interleave. The registered query reads
    * the POST-rewrite head, so the oracle (raw-table reconstruction that
    * knows nothing about layout) catches any row the rewrite lost,
    * duplicated, or mutated — layout is the one thing a rewrite must not
    * change. */
  private def buildZorderedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "zorder-events") { t =>
      val ev = Tables.read(s, sfDir, "events")
        .withColumn("gx", pmod(col("event_id"), lit(64)))
        .withColumn("gy", pmod(floor(col("event_id") / 64).cast("long"), lit(64)))
      mergeUpsert(s, t, ev, Seq("event_id"), Seq("event_id"),
        txn = Some(("seed", 0L)))
      val n = optimize(s, t, zorderBy = Seq("gx", "gy"))
      require(n > 0, "zorder fixture must rewrite at least one file")
    }

  /** `q_zorder_optimize`: digest of the z-ordered head through a
    * two-dimensional band predicate — exactly the predicate shape the
    * layout exists to serve. The oracle derives the same grid columns
    * from the raw table, so the hash is layout-independent. */
  def zorderOptimizeDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(read(s, buildZorderedEvents(s, sfDir))
      .where(col("gx") >= 8 && col("gx") <= 23 && col("gy") >= 8 && col("gy") <= 23))

  val zorderOptimizeDigestSql: String =
    s"""WITH g AS (
       |  SELECT event_type, value,
       |    event_id % 64 AS gx, (event_id // 64) % 64 AS gy
       |  FROM events)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum
       |FROM g WHERE gx BETWEEN 8 AND 23 AND gy BETWEEN 8 AND 23
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Fixture behind `q_column_mapping`: seed events, then two
    * metadata-only schema changes — RENAME value→score and DROP props —
    * with zero data-file rewrites (the registered query hash-fails if
    * either op touched, lost, or mis-mapped a single row, because the
    * oracle reconstructs from the raw table under the ORIGINAL names). */
  private def buildRenamedEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "colmap-events") { t =>
      mergeUpsert(s, t, Tables.read(s, sfDir, "events"),
        Seq("event_id"), Seq("event_id"), txn = Some(("seed", 0L)))
      val before = latestManifest(t).get.files
      renameColumn(t, "value", "score")   // v1: metadata-only
      dropColumn(t, "props")              // v2: metadata-only
      require(latestManifest(t).get.files == before,
        "rename/drop must not touch a single data-file entry")
    }

  /** `q_column_mapping`: digest of the renamed/dropped head under the NEW
    * column names — served through the logical→physical map from data
    * files that still carry the ORIGINAL parquet column names. */
  def columnMappingDigest(s: SparkSession, sfDir: String): DataFrame =
    read(s, buildRenamedEvents(s, sfDir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("score")), 2).as("score_sum"))
      .orderBy("event_type")

  val columnMappingDigestSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  round(sum(value), 2) AS score_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Fixture behind `q_sql_update_delete`: versions 1 and 2 are committed
    * by real `spark.sql` UPDATE and DELETE statements — the analyzer
    * interception, bare-name condition translation, simultaneous-SET
    * projection, and the keyed-delete derivation all sit on the oracle
    * path. */
  private def buildSqlUpdDelEvents(s: SparkSession, sfDir: String): String =
    scratchTable(s, sfDir, "sql-upd-del") { t =>
      mergeUpsert(s, t, Tables.read(s, sfDir, "events"),
        Seq("event_id"), Seq("event_id"), txn = Some(("seed", 0L)))
      s.sql(s"UPDATE graft.`$t` SET value = value + 1000.0 " +
        "WHERE event_type = 'error'")                             // v1
      s.sql(s"DELETE FROM graft.`$t` WHERE event_id % 13 = 0")    // v2
    }

  /** `q_sql_update_delete`: digest of the SQL-updated-then-deleted head —
    * an UPDATE that leaked past its predicate, a SET applied to the wrong
    * column, a DELETE that removed (or kept) the wrong keys, or a stale
    * snapshot served after two SQL commits all break the hash. The
    * oracle replays both statements as one CASE + WHERE over the raw
    * table. */
  def sqlUpdateDeleteDigest(s: SparkSession, sfDir: String): DataFrame =
    byEventType(read(s, buildSqlUpdDelEvents(s, sfDir)))

  val sqlUpdateDeleteDigestSql: String =
    s"""WITH upd AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_type = 'error' THEN value + 1000.0
       |         ELSE value END AS value
       |  FROM events),
       |kept AS (SELECT * FROM upd WHERE event_id % 13 <> 0)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum
       |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin

  val mergeSqlDigestSql: String =
    s"""WITH kept AS (
       |  SELECT event_id, event_type,
       |    CASE WHEN event_id % 3 = 0 AND value * 2.0 > value + 50.0
       |         THEN value * 2.0 ELSE value END AS value
       |  FROM events
       |  WHERE event_id % 3 <> 0 OR value * 2.0 > value + 50.0),
       |ins AS (
       |  SELECT event_id + (SELECT max(event_id) + 1 FROM events) AS event_id,
       |    'sqlnew' AS event_type, value
       |  FROM events WHERE event_id % 17 = 0 AND value >= 50.0),
       |final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT event_type, count(*) AS n_events,
       |  round(sum(value), 2) AS value_sum
       |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin
}
