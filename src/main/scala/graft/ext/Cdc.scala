package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** Change-data-capture application: MERGE (upsert + delete) semantics
  * over plain DataFrames — the `MERGE INTO` a warehouse user of the
  * reference's append-only sink (box_ingest.py saveAsTable append)
  * graduates to once sources start shipping corrections.
  *
  * Plan shape (scale audit): ONE full-outer equi-join on the key —
  * both sides hash-partition once; when the change batch is small
  * (the normal CDC case) Catalyst broadcasts it and the base table
  * never shuffles at all. Nothing is row-at-a-time and no driver
  * collection occurs. The production refinement at 100 TB is
  * partition-pruned rewrite (join change keys against partition
  * values, rewrite only affected partitions); the merge itself is
  * this same plan over the pruned subset.
  */
object Cdc {

  /** Apply `changes` to `base`: matched keys take the change row's
    * columns (full-row update), unmatched change rows insert, and
    * change rows with `deleteCol` true delete. Change keys must be
    * unique (dedupe upstream with [[Dedup.latestByKey]]); base keys are
    * assumed unique (it's a keyed table). A duplicate key on either side
    * silently fans out the full-outer join — pass
    * `assertUniqueKeys = true` (debug mode: one extra keyed aggregate
    * per side, via [[Quality.Unique]]) to fail fast instead.
    *
    * @param deleteCol optional boolean column on `changes` marking
    *                  deletions; absent => pure upsert
    * @param assertUniqueKeys eagerly verify both sides' keys are unique
    *                  before merging (costs one aggregate pass per side)
    */
  def mergeUpsert(
      base: DataFrame, changes: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None,
      assertUniqueKeys: Boolean = false): DataFrame = {
    val payload = base.columns.filterNot(keys.contains)
    require(payload.nonEmpty, "base must have non-key columns")
    if (assertUniqueKeys)
      Seq("base" -> base, "changes" -> changes).foreach { case (nm, df) =>
        val bad = Quality.check(df, Seq(Quality.Unique(keys)))
          .where(!col("pass")).collect()
        require(bad.isEmpty, s"mergeUpsert: $nm has ${bad.head.getLong(1)} " +
          s"duplicate-key row(s) on (${keys.mkString(", ")})")
      }
    val ch = deleteCol.fold(changes.withColumn("__del", lit(false)))(c =>
      changes.withColumn("__del", coalesce(col(c), lit(false))).drop(c))
    // Struct-wrap each side so a full outer join can distinguish "no
    // match" (struct null) from "matched row with null fields".
    val b = base.select(
      keys.map(col) :+ struct(payload.map(col): _*).as("__b"): _*)
    val c = ch.select(
      keys.map(col) :+ struct((ch.columns.filterNot(n =>
        keys.contains(n) || n == "__del").map(col) :+
        col("__del")): _*).as("__c"): _*)
    b.join(c, keys, "full_outer")
      .where(col("__c").isNull || !col("__c.__del"))
      .select(keys.map(col) ++ payload.map(f =>
        when(col("__c").isNotNull, col(s"__c.$f"))
          .otherwise(col(s"__b.$f")).as(f)): _*)
  }

  /** Keyed table diff — the inverse of MERGE: given two snapshots of a
    * keyed table, emit what changed: (keys..., change_type ∈
    * added | removed | changed). Unchanged rows are filtered BEFORE the
    * output (the overwhelming majority between daily snapshots), so
    * downstream work scales with the delta, not the table. The payload
    * comparison is a null-safe struct equality — one expression per
    * row, no column enumeration in the plan.
    *
    * Plan: ONE full-outer join on the key (both sides hash once;
    * broadcast when one snapshot is small). This is the
    * drift-detection / reconciliation primitive: run it between a
    * replica and its source, or between yesterday's and today's
    * snapshot to regenerate a change feed that was never captured.
    */
  def diff(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = before.columns.filterNot(keys.contains)
    require(payload.sameElements(after.columns.filterNot(keys.contains)),
      "diff requires identical non-key columns on both sides")
    val b = before.select(
      keys.map(col) :+ struct(payload.map(col): _*).as("__b"): _*)
    val a = after.select(
      keys.map(col) :+ struct(payload.map(col): _*).as("__a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(!(col("__a") <=> col("__b")), lit("changed")))
      .where(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Slowly-changing-dimension Type 2 maintenance: apply a batch of
    * attribute updates to a versioned dimension, KEEPING history. The
    * dimension carries (`validFromCol`, `validToCol`) timestamps per
    * version; the open (current) version has a null `validToCol`.
    * `updates` carries the key + the same attribute columns + `tsCol`,
    * the effective time of the new version. Semantics per key:
    *
    *  - matched, attributes differ, ts newer than the open version's
    *    valid_from → the open version CLOSES at ts and a new open
    *    version starts at ts;
    *  - matched, attributes equal (null-safe) → no-op (no empty
    *    versions from redundant feeds);
    *  - matched, ts <= open version's valid_from → stale out-of-order
    *    update, dropped (apply batches in order for full history);
    *  - unmatched key → brand-new open version at ts.
    *
    * Multiple updates per key in one batch are pre-compacted to the
    * latest ts (ties broken by the largest attribute struct) — the
    * intermediate versions of a single batch are below the batch
    * boundary's resolution. Closed history rows pass through untouched.
    *
    * Plan (scale audit): closed versions are filtered out BEFORE the
    * join and unioned back — the historical bulk of a dimension never
    * enters the shuffle. What remains is ONE left-outer equi-join of
    * the (one row per key) current slice against the compacted batch,
    * broadcast when the batch is small, plus the batch's own anti-join
    * for inserts on the same partitioning. Nothing is row-at-a-time.
    */
  def scdType2(
      dim: DataFrame, updates: DataFrame, keys: Seq[String], tsCol: String,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    val attrs = dim.columns
      .filterNot(c => keys.contains(c) || c == validFromCol || c == validToCol)
    require(attrs.nonEmpty, "scdType2: dimension has no attribute columns")
    // Case-insensitive name match (like the validate path's projection)
    // AND per-attribute type agreement: the union below is positional,
    // so a type mismatch between an update attribute and the dimension's
    // would otherwise coerce silently or fail late with a cryptic error.
    val updFields = updates.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val expected = (keys ++ attrs :+ tsCol)
    require(updFields.size == expected.size &&
        expected.forall(c => updFields.contains(c.toLowerCase)),
      s"scdType2: updates must carry exactly keys + attributes + $tsCol")
    (keys ++ attrs).foreach { c =>
      val dt = dim.schema(c).dataType
      val ut = updFields(c.toLowerCase)
      require(ut == dt,
        s"scdType2: updates.$c is ${ut.sql} but dimension expects ${dt.sql}")
    }
    val outCols = (keys ++ attrs :+ validFromCol :+ validToCol).map(col)
    // Latest update per key: max_by on (ts, attr-struct) — one partial
    // aggregate, one candidate row per key per partition (cf.
    // Dedup.latestByKey).
    val u = updates.groupBy(keys.map(col): _*)
      .agg(max(struct((col(tsCol) +: attrs.map(col)): _*)).as("__u"))
      .select(keys.map(col) :+ col("__u"): _*)
    val closed = dim.where(col(validToCol).isNotNull).select(outCols: _*)
    val open = dim.where(col(validToCol).isNull)
    val joined = open.join(u, keys, "left")
    val changed = col("__u").isNotNull &&
      col(s"__u.$tsCol") > col(validFromCol) &&
      !(struct(attrs.map(c => col(s"__u.$c").as(c)): _*) <=>
        struct(attrs.map(col): _*))
    // Open rows: closed-out predecessor where a real change lands,
    // otherwise carried through; the new version takes the update's row.
    val closedOut = joined.where(changed)
      .select(keys.map(col) ++ attrs.map(col) :+ col(validFromCol) :+
        col(s"__u.$tsCol").as(validToCol): _*)
    val newOpen = joined.where(changed)
      .select(keys.map(col) ++ attrs.map(c => col(s"__u.$c").as(c)) :+
        col(s"__u.$tsCol").as(validFromCol) :+
        lit(null).cast(dim.schema(validToCol).dataType).as(validToCol): _*)
    val carried = joined.where(!changed)
      .select(outCols: _*)
    val inserted = u.join(open, keys, "left_anti")
      .select(keys.map(col) ++ attrs.map(c => col(s"__u.$c").as(c)) :+
        col(s"__u.$tsCol").as(validFromCol) :+
        lit(null).cast(dim.schema(validToCol).dataType).as(validToCol): _*)
    closed.unionAll(closedOut).unionAll(newOpen).unionAll(carried)
      .unionAll(inserted)
  }

  /** The 100 TB refinement promised in this file's header: MERGE into a
    * PARTITIONED table rewriting only the partitions the change batch
    * touches. A full-table merge rewrites 100 TB to apply a 100 MB
    * batch; this rewrites (changed partitions) only:
    *
    *  1. affected = partitions holding a matched key (semi-join of base
    *     against the change keys, reading only the partition column)
    *     ∪ the change rows' own partitions (where inserts land). This
    *     is a partition-VALUE list — bounded by the partition count,
    *     never row data — collected to the driver for pruning.
    *  2. [[mergeUpsert]] runs over ONLY the affected base partitions
    *     (partition-pruned scan) and the full change batch.
    *  3. The merged slice is staged to a temp table (a table cannot be
    *     overwritten while being read), then written back with DYNAMIC
    *     partition overwrite — untouched partitions' files are never
    *     rewritten, moved, or read.
    *
    * `changes` must carry `partCol` (the partition a row lives in /
    * should insert into); a matched row whose partCol differs from its
    * base partition MOVES (old partition rewritten without it, new one
    * with it) because both partitions are affected by construction.
    */
  def mergeUpsertPruned(
      table: String, changes: DataFrame, keys: Seq[String], partCol: String,
      deleteCol: Option[String] = None,
      assertUniqueKeys: Boolean = false): Unit = {
    val spark = changes.sparkSession
    val base = spark.table(table)
    val affectedRows =
      base.join(changes.select(keys.map(col): _*).distinct(), keys, "left_semi")
        .select(col(partCol)).distinct()
        .union(changes.select(col(partCol)).distinct())
        .distinct().collect().map(_.get(0))
    if (affectedRows.nonEmpty) {
      val pruned = base.where(col(partCol).isin(affectedRows: _*))
      val merged = mergeUpsert(pruned, changes, keys, deleteCol,
        assertUniqueKeys)
      // Stage then dynamic-overwrite: only partitions present in the
      // merged slice (= the affected ones) are replaced.
      val tmp = table + "__merge_stage"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      merged.write.mode("overwrite").format("parquet").saveAsTable(tmp)
      try {
        // The dynamic mode is set on a clone of the caller's session, so
        // no other thread on the caller's session ever writes with it.
        // insertInto matches by POSITION with the partition column last.
        val writer = SessionBridge.cloneSession(spark)
        writer.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        val cols = base.columns.filterNot(_ == partCol) :+ partCol
        writer.table(tmp).select(cols.map(col): _*)
          .write.mode("overwrite").insertInto(table)
        // Dynamic overwrite only replaces partitions PRESENT in the
        // written slice: an affected partition the merge left EMPTY
        // (every row deleted or moved out) would otherwise keep its
        // stale files. Drop those explicitly.
        val present = spark.table(tmp).select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSet
        affectedRows.filterNot(present).foreach { v =>
          val lit = String.valueOf(v).replace("'", "''")
          spark.sql(
            s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partCol = '$lit')")
        }
      } finally spark.sql(s"DROP TABLE IF EXISTS $tmp")
      spark.catalog.refreshTable(table)
    }
  }

  /** SCD2 history written through [[graft.sink.VersionedTable]]: apply
    * one [[scdType2]] batch to the dimension's LATEST committed version
    * and commit the result as the next version — the dimension's history
    * OF histories becomes itself time-travelable. "What did the full
    * version history of this dimension look like before Tuesday's feed?"
    * is then `VersionedTable.read(root, v)` — the composition a 100 TB
    * warehouse runs when a bad upstream batch has to be audited or
    * rolled back (roll-back = re-apply corrected batches on top of the
    * last good version; nothing is ever rewritten in place).
    *
    * Seed version 1 with `VersionedTable.write(initialDim, root)` before
    * the first batch. Each call costs the scdType2 plan (closed history
    * passes through join-free) plus one full write of the new snapshot —
    * the versioned layout trades write amplification for zero-cost
    * snapshot isolation; at scale, compose with [[mergeUpsertPruned]]'s
    * partitioned layout if full-snapshot writes dominate.
    *
    * @return the committed version number holding the new history
    */
  def scdType2Versioned(
      spark: org.apache.spark.sql.SparkSession, root: String,
      updates: DataFrame, keys: Seq[String], tsCol: String,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): Int = {
    val dim = graft.sink.VersionedTable.read(spark, root)
    val next = scdType2(dim, updates, keys, tsCol, validFromCol, validToCol)
    graft.sink.VersionedTable.write(next, root)
  }
}
