package graft.ext

import graft.sink.{TableRef, TableSink}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale mechanics used when the default planner behavior isn't enough:
  * salting for pathological key skew, and bucketed tables for repeated
  * co-located joins.
  *
  * AQE's skew-join splitting (on by default in Spark 4) already handles
  * most shuffle skew at runtime; explicit salting remains the tool when
  * one key is so hot that even split partitions overwhelm a task (the
  * classic null-key / power-law join) or when the skewed side feeds an
  * aggregation rather than a join.
  */
object Scale {

  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  /** Eager materialization — the one way library code cuts lineage
    * (iteration rounds, frames feeding several downstream references,
    * two-phase operators whose phases must see the same rows). Runs
    * the frame's plan once and returns a frame over the stored rows:
    * a RELIABLE checkpoint when the SparkContext has a checkpoint dir
    * (`setCheckpointDir` or [[withReliableCheckpoints]] — the cluster
    * deployment, where executor loss must not force a recompute), else
    * local executor blocks (the single-box default). The result
    * declares the partitioning and ordering the run actually delivered
    * and its measured bytes as its size, so downstream joins reuse the
    * layout and the planner broadcasts it when it fits.
    *
    * The backing RDD registers in the current [[CheckpointScope]]:
    * local blocks stay pinned until the scope's `release()` (or the
    * ContextCleaner, once the frame is unreachable); reliable files
    * live under the dir until the caller removes them. */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val (out, rdd) =
      org.apache.spark.sql.graftbridge.DatasetBridge.materialize(df, reliable)
    currentScope.value.register(rdd)
    out
  }

  /** A scope of [[materialize]]d RDDs. Operators register what they
    * pin into the CURRENT scope ([[scopedCheckpoints]] installs a fresh
    * one per block; outside any block the process-global default
    * applies), so concurrent pipelines release their own frames
    * independently — one caller's release never unpersists another's
    * still-lazy blocks (a released local checkpoint cannot be
    * recomputed). Handles are WEAK, so the registry never blocks the
    * GC-based cleanup. */
  final class CheckpointScope private[Scale] () {
    private val pinned =
      new scala.collection.mutable.ArrayBuffer[
        java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]
    private[Scale] def register(r: org.apache.spark.rdd.RDD[_]): Unit =
      synchronized {
        pinned.filterInPlace(_.get() != null)
        pinned += new java.lang.ref.WeakReference(r)
      }
    /** Unpersist every still-live handle registered in THIS scope and
      * clear it. Call AFTER all frames built inside the scope are fully
      * materialized. Returns the number of RDDs released. */
    def release(): Int = synchronized {
      val live = pinned.flatMap(w => Option(w.get()))
      live.foreach(_.unpersist(blocking = false))
      pinned.clear()
      live.size
    }
  }

  private val globalScope = new CheckpointScope
  /** Thread-inheritable current scope — Spark actions execute on the
    * calling thread, so per-thread scoping is exactly per-pipeline. */
  private val currentScope =
    new scala.util.DynamicVariable[CheckpointScope](globalScope)

  /** Run `body` with a FRESH checkpoint scope: every materialization
    * inside registers into the scope passed to `body`, not the global
    * registry. The caller materializes its results, then calls
    * `scope.release()`. The scope is NOT auto-released on exit: a frame
    * returned from the block lazily must stay readable until the caller
    * has materialized it. */
  def scopedCheckpoints[T](body: CheckpointScope => T): T = {
    val s = new CheckpointScope
    currentScope.withValue(s)(body(s))
  }

  /** Unpersist every materialization registered in the GLOBAL scope
    * (made outside any [[scopedCheckpoints]] block) that the GC has not
    * already collected. Call AFTER all returned frames are fully
    * materialized — a released local checkpoint cannot be re-read, so a
    * still-lazy result would fail downstream. Returns the number of
    * RDDs released. Frames pinned inside a [[scopedCheckpoints]] block
    * are NOT touched. */
  def releaseLocalCheckpoints(): Int = globalScope.release()

  /** Scope a RELIABLE checkpoint directory: creates a UNIQUE
    * subdirectory under `dir`, points the Spark context's checkpoint
    * dir at it, runs `body` (MATERIALIZE every result inside — the
    * files are deleted on exit, so a frame escaping the scope lazily
    * cannot be executed anymore), then removes ONLY that subdirectory —
    * a caller passing a pre-existing directory keeps its other contents
    * — and restores the context's prior checkpoint dir (cleared if there
    * was none). Restoration goes through the public setCheckpointDir,
    * which nests one fresh UUID level under the prior path — later
    * checkpoints still land under the original root, where the original
    * scope's cleanup governs them. */
  def withReliableCheckpoints[T](spark: SparkSession, dir: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val scopeDir = dir.stripSuffix("/") + "/graft-ckpt-" +
      java.util.UUID.randomUUID().toString
    sc.setCheckpointDir(scopeDir)
    try body
    finally {
      val p = new org.apache.hadoop.fs.Path(scopeDir)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      prior match {
        case Some(d) => sc.setCheckpointDir(d)
        // Clearing to None goes through setCheckpointDir(null); its
        // cluster-mode local-path warning can't handle a null, so only
        // clear in local mode — on a cluster with no prior dir the
        // scope dir stays set but deleted, and the next scope re-points
        // it anyway.
        case None => if (sc.isLocal) sc.setCheckpointDir(null)
      }
    }
  }

  /** Parallelism floor for a CPU-heavy narrow stage (gram explosion,
    * signature computation, tokenization): when the frame's planned
    * partition count is below the session's default parallelism, add
    * one round-robin exchange so the per-row work spreads across every
    * core; otherwise return the frame unchanged. The byte-based split
    * sizing (maxPartitionBytes / AQE advisory bytes) under-parallelizes
    * these operators by orders of magnitude — a 1 MB document batch
    * explodes into ~50x its size in grams and burns CPU, not I/O — so
    * the floor is cores, not bytes. The guard keeps it scale-adaptive
    * at both ends: a 100 TB scan already has >> parallelism splits and
    * passes through untouched, while a side input smaller than the
    * cluster's core count pays one small exchange to engage every
    * core. Round-robin (not hash-on-key) spreads uniformly regardless
    * of key distribution and is retry-deterministic via Spark's
    * sort-before-repartition.
    *
    * The partition probe reads the NON-adaptive physical plan (lazy
    * RDD lineage — no job, no AQE stage materialization); frames whose
    * plan cannot build an RDD (streaming sources, commands) pass
    * through unchanged. */
  private[ext] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
    if (parts < target) df.repartition(target) else df
  }

  /** xxhash64 rejects map-typed inputs at analysis time (maps have no
    * canonical element order); nested arrays/structs are hashable only if
    * their element types are. */
  private def hashSafe(dt: DataType): Boolean = dt match {
    case _: MapType     => false
    case s: StructType  => s.fields.forall(f => hashSafe(f.dataType))
    case a: ArrayType   => hashSafe(a.elementType)
    case _              => true
  }

  /** Content-derived salt in [0, saltFactor) over every HASHABLE column —
    * schemas with map columns salt on the remaining columns instead of
    * failing analysis. Only when no column at all is hashable does this
    * fall back to a `spark_partition_id()` salt (stable under task retry,
    * but it degrades to one partial per key when a hot key sits in few
    * input partitions — acceptable for the pathological all-map schema). */
  private def contentSalt(df: DataFrame, saltFactor: Int): Column = {
    val hashable = df.schema.fields.filter(f => hashSafe(f.dataType))
    val h =
      if (hashable.nonEmpty) xxhash64(hashable.map(f => df(f.name)): _*)
      else spark_partition_id().cast("long")
    pmod(h, lit(saltFactor))
  }

  /** Two-phase (partial + final) aggregation over a skewed group key done
    * manually: group on (key, salt) first, then re-aggregate by key.
    * Spark's hash aggregate already does map-side partial aggregation —
    * this helps when the DISTINCT or collect-ish aggregate forces all
    * rows of a key into one reducer. `merge` must be associative.
    *
    * The salt is derived from row CONTENT (all hashable columns), like
    * [[saltedJoin]]: a `spark_partition_id()` salt degrades to a single
    * partial per key when the hot key is concentrated in few input
    * partitions (e.g. the input was just shuffled on that very key),
    * while a content hash splits unconditionally and is deterministic
    * under task retry. As with saltedJoin, byte-identical duplicate rows
    * share a salt — a key hot purely through exact duplicates still
    * skews; dedup first or add a stable row id upstream in that case.
    */
  def saltedAgg(
      df: DataFrame, key: Column, agg: Column, merge: Column => Column,
      saltFactor: Int = 16): DataFrame = {
    df.groupBy(key.as("k"), contentSalt(df, saltFactor).as("salt"))
      .agg(agg.as("partial"))
      .groupBy(col("k"))
      .agg(merge(col("partial")).as("value"))
  }

  /** Salted inner equi-join for a skewed LEFT side: left rows get a
    * deterministic salt in [0, saltFactor), the (small-ish, but too big
    * to broadcast) right side is replicated saltFactor ways, and the join
    * key becomes (key, salt) — splitting each hot key's rows across
    * saltFactor reducers. Row multiplicity is unchanged: each left row
    * matches exactly one replica of each right match.
    *
    * The salt is derived from the left row's CONTENT (all hashable
    * columns), not
    * from monotonically_increasing_id(): id-based salts change when a
    * task is recomputed after a shuffle-fetch failure, and a re-salted
    * row lands on a different reducer than its first attempt — the
    * classic duplicated/lost-row hazard, at exactly the scale where
    * salting matters. Content hashing is retry-deterministic; its one
    * limit is that byte-identical duplicate rows share a salt, so a key
    * that is hot purely through exact duplicates still skews — dedup
    * first (or add a stable row id upstream) in that case.
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
      saltFactor: Int = 16): DataFrame = {
    val salted = left.withColumn("__salt", contentSalt(left, saltFactor))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1)).cast("array<long>")))
    salted.join(replicated,
        salted("__salt") === replicated("__salt") &&
        col(leftKey) === col(rightKey))
      .drop("__salt")
  }

  /** Write a bucketed + sorted managed table: repeated equi-joins or
    * aggregations on `bucketCol` between tables bucketed the same way
    * plan with ZERO exchanges — the co-location is free at read time.
    * This is the 100 TB answer to "we join these two fact tables every
    * hour": pay the shuffle once at write time.
    */
  def writeBucketed(
      df: DataFrame, ref: TableRef, bucketCol: String, numBuckets: Int): Unit = {
    TableSink.ensureDatabase(df.sparkSession, ref)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(ref.qualified)
  }

  /** Join two same-bucketed tables on the bucket column — exchange-free
    * by construction (assert with PlanSpec-style checks in tests). */
  def bucketedJoin(
      spark: SparkSession, a: TableRef, b: TableRef, key: String): DataFrame =
    spark.table(a.qualified).join(spark.table(b.qualified), Seq(key))

  // ------------------------------------------------ bloom join pruning

  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import org.apache.spark.sql.types.BinaryType

  /** Serialized bloom filter over `xxhash64(key)`, built DISTRIBUTED with
    * Spark's native `BloomFilterAggregate` (the same sketch the planner's
    * runtime row-level filtering uses): each task folds its rows into a
    * local filter, partials merge by bitwise OR, and only the final
    * KB–MB-sized bitset reaches the driver — never data rows.
    *
    * Sizing: ~0.72·bits/item per 10^-k fpp decade (3% fpp ≈ 7.3
    * bits/item), capped at `maxBits` (default 2^26 = 8 MiB serialized,
    * matching Spark's own runtime-filter creation cap) because the blob
    * rides into every probe task closure; past ~50M build keys the fpp
    * degrades gracefully rather than the filter growing unbounded. */
  /** Skew report: the measurement that decides WHETHER to reach for
    * [[saltedAgg]]/[[saltedJoin]] and with what factor. Emits the topK
    * hottest keys with exact counts, their share in millionths
    * (n·10⁶ div total — integer, replayable), and the pinned salt
    * recommendation ⌈n·parts/total⌉: the number of ways the key must
    * split so each shard is at most an average partition's share. Keys
    * with salt 1 don't skew; a key recommending parts-many shards is
    * the degenerate single-key table.
    *
    * Plan: one partial-aggregated groupBy on the keys, a broadcast of
    * the single total row, TakeOrderedAndProject for the top-k. Cost is
    * one linear pass — run it on the join key BEFORE the join, not
    * after the 4-hour stage straggles.
    */
  def skewReport(df: DataFrame, keys: Seq[String], parts: Int,
      topK: Int = 20): DataFrame = {
    require(parts > 0 && topK > 0, s"parts=$parts topK=$topK")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    // total derived from the counts frame, not a second df scan — the
    // report really is one linear pass over the input.
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(keys.map(col) :+ col("n") :+ col("total") :+
        expr("n * 1000000L div total").as("share_e6") :+
        expr(s"(n * $parts + total - 1) div total").as("salt"): _*)
      .orderBy(desc("n") +: keys.map(col): _*)
      .limit(topK)
  }

  def keyBloom(df: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.03, maxBits: Long = 1L << 26): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems=$expectedItems must be > 0")
    require(fpp > 0.0 && fpp < 1.0, s"fpp=$fpp out of (0,1)")
    val numBits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp),
      maxBits)
    val agg = new BloomFilterAggregate(
      expression(xxhash64(key)), Literal(expectedItems), Literal(numBits))
    df.select(column(agg.toAggregateExpression())).head().getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe against a [[keyBloom]] blob: true or a
    * false positive at the filter's fpp, never a false negative. A NULL
    * key hashes to xxhash64's seed value (Spark's null-skipping hash),
    * so it probes like any other key — harmless, because every caller
    * re-checks with an exact join that drops NULL keys anyway.
    * The blob ships as a BROADCAST (r18): the previous
    * `BloomFilterMightContain(Literal(blob))` serialized the whole
    * filter (up to 8 MB at the build cap) into every task binary of
    * every stage whose plan contains the probe; the broadcast handle
    * is bytes-sized and the decoded filter builds once per executor. */
  def mightContainKey(bloom: Array[Byte], key: Column): Column = {
    val bc = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(bloom)
    graft.functions.GraftFunctions.bloomMightContain(xxhash64(key), bc)
  }

  /** Multi-column variants of [[keyBloom]]/[[mightContainKey]]: the key
    * is hashed as xxhash64(c1, c2, ...) DIRECTLY — no struct wrapper —
    * so a probe evaluated once per row of a huge stream (g1 evaluates
    * one per RAW WEDGE) skips the per-row struct materialization the
    * single-column form pays. Build and probe must use the same column
    * arity/order; a hash collision is just a false positive, which the
    * callers' exact re-check already absorbs. */
  def keyBloomCols(df: DataFrame, keys: Seq[Column], expectedItems: Long,
      fpp: Double = 0.03, maxBits: Long = 1L << 26): Array[Byte] = {
    require(keys.nonEmpty, "keyBloomCols: need at least one key column")
    require(expectedItems > 0, s"expectedItems=$expectedItems must be > 0")
    require(fpp > 0.0 && fpp < 1.0, s"fpp=$fpp out of (0,1)")
    val numBits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp),
      maxBits)
    val agg = new BloomFilterAggregate(
      expression(xxhash64(keys: _*)), Literal(expectedItems), Literal(numBits))
    df.select(column(agg.toAggregateExpression())).head().getAs[Array[Byte]](0)
  }

  /** [[mightContainKey]]'s broadcast-shipped blob semantics apply here
    * too (the probe runs once per RAW WEDGE in g1 — both the per-row
    * struct avoidance AND the per-task blob deserialization matter). */
  def mightContainKeyCols(bloom: Array[Byte], keys: Seq[Column]): Column = {
    val bc = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(bloom)
    graft.functions.GraftFunctions.bloomMightContain(xxhash64(keys: _*), bc)
  }

  // ------------------------------------------------ z-order clustering

  /** Morton (Z-order) value over integer dimensions: each value is
    * linearly bucketed into [0, 2^bits) against its column's [min, max],
    * and the bucket bits are interleaved (dimension j contributes bit i
    * at position i·c + (c−1−j)). Pure integer arithmetic — deterministic
    * and exactly replayable in ANSI SQL bit operators; built from
    * shiftright/AND/shiftleft Column primitives so it stays inside
    * whole-stage codegen. NULLs bucket to 0 (sort first). */
  def zValueOf(cols: Seq[Column], mins: Seq[Long], maxs: Seq[Long],
      bits: Int): Column = {
    val c = cols.length
    require(c >= 2, "zValueOf: need at least 2 dimensions")
    require(mins.length == c && maxs.length == c, "zValueOf: mins/maxs arity")
    require(bits >= 1 && bits * c <= 62, s"zValueOf: bits*cols = ${bits * c} > 62")
    mins.zip(maxs).foreach { case (m, x) => require(m <= x, s"zValueOf: min $m > max $x") }
    val buckets = cols.zipWithIndex.map { case (col0, j) =>
      val range = maxs(j) - mins(j) + 1
      require(range <= (Long.MaxValue >> bits),
        s"zValueOf: range $range of dim $j overflows at $bits bits")
      // floor((v - min) * 2^bits / range), clamped via coalesce for nulls
      (coalesce(col0.cast("long"), lit(mins(j))) - lit(mins(j))) *
        lit(1L << bits) / lit(range)
    }
    val terms = for {
      j <- 0 until c
      i <- 0 until bits
    } yield shiftleft(shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * c + (c - 1 - j))
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustering for multi-dimensional range pruning — the data
    * LAYOUT operator: sorting 100 TB by (a, b) lexicographically makes
    * predicates on `b` alone touch every file; sorting by the Morton
    * value keeps both dimensions locally clustered, so a range predicate
    * on EITHER column prunes ~sqrt-fraction of the files via parquet
    * min/max stats.
    *
    * Plan shape: one metadata-sized min/max aggregate to the driver
    * (scalars only, never rows), a narrow codegen'd z-value projection,
    * then `repartitionByRange` + in-partition sort on it — Spark samples
    * the range boundaries distributed; no global single-task sort. Write
    * the result with the parquet sink to materialize the layout. */
  def zOrderBy(df: DataFrame, zCols: Seq[String], bits: Int = 16,
      numPartitions: Option[Int] = None): DataFrame = {
    require(zCols.nonEmpty, "zOrderBy: no columns")
    require(!df.columns.exists(_.equalsIgnoreCase("z_value")),
      "zOrderBy: input already has a column named 'z_value'")
    val aggs = zCols.flatMap(n =>
      Seq(min(col(n).cast("long")).as(s"mn_$n"), max(col(n).cast("long")).as(s"mx_$n")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val mins = zCols.indices.map(i => row.getLong(2 * i)).toSeq
    val maxs = zCols.indices.map(i => row.getLong(2 * i + 1)).toSeq
    val withZ = df.withColumn("z_value",
      zValueOf(zCols.map(col), mins, maxs, bits))
    val parted = numPartitions
      .map(n => withZ.repartitionByRange(n, col("z_value")))
      .getOrElse(withZ.repartitionByRange(col("z_value")))
    parted.sortWithinPartitions("z_value")
  }

  /** Inner equi-join where the BIG side is pre-pruned by a bloom filter
    * of the small side's keys — the 100 TB join pattern for a selective
    * build side that is too large to broadcast (so the planner can't BHJ
    * and semi-join pushdown doesn't apply). Probe-side rows that cannot
    * match are dropped BEFORE the shuffle at scan speed; the join then
    * removes the fpp false positives, so the result is EXACTLY the plain
    * join at any fpp (the gate oracle replays the plain join).
    *
    * Inner/semi only: pruning the preserved side of an outer join would
    * drop its unmatched rows. Build cost is one narrow aggregate over
    * `small`; probe cost is a codegen'd hash per row. */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, expectedItems: Long,
      fpp: Double = 0.03): DataFrame = {
    val bloom = keyBloom(small, small(smallKey), expectedItems, fpp)
    big.where(mightContainKey(bloom, big(bigKey)))
      .join(small, big(bigKey) === small(smallKey))
  }

  /** One-line plan-shape report for a DataFrame — the numbers a scale
    * review reads off `.explain` without the wall of text: shuffle
    * exchange count (each is a full data movement), broadcast count,
    * join strategies seen, scan count, whether anything degenerated to
    * a cartesian/nested-loop product, and whether a TakeOrdered
    * (top-k) or a global Sort handles ordering. Driver-side plan
    * inspection only — nothing is executed. The programmatic twin of
    * the PlanSpec assertions, for ad-hoc "would this survive 100×"
    * checks during development.
    */
  def planReport(df: DataFrame): Map[String, Long] = {
    val plan = df.queryExecution.executedPlan.toString
    def n(marker: String): Long =
      plan.sliding(marker.length).count(_ == marker).toLong
    Map(
      "shuffle_exchanges" -> (n("Exchange hashpartitioning") +
        n("Exchange rangepartitioning")),
      "broadcast_exchanges" -> n("BroadcastExchange"),
      "sort_merge_joins" -> n("SortMergeJoin"),
      "broadcast_hash_joins" -> n("BroadcastHashJoin"),
      "nested_loop_joins" -> n("BroadcastNestedLoopJoin"),
      "cartesian_products" -> n("CartesianProduct"),
      "scans" -> n("Scan "),
      "take_ordered" -> n("TakeOrderedAndProject"),
      "sorts" -> n("Sort ["))
  }

  /** Write parquet with per-column BLOOM FILTERS in the file footers —
    * the point-lookup twin of [[zoneMap]] range pruning: min/max stats
    * are useless for equality probes on a high-cardinality UNCLUSTERED
    * column (every file's range covers every key), but a footer bloom
    * lets the reader skip whole row groups whose filter proves the key
    * absent. Spark's vectorized parquet reader applies them
    * automatically when the pushed predicate is an equality — nothing
    * to do at read time but push the filter. Size the `expectedNdv`
    * per column to its distinct count per row group; the writer derives
    * the filter bits from it. */
  def writeBloomIndexed(df: DataFrame, dir: String,
      bloomCols: Seq[String], expectedNdv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "writeBloomIndexed: no columns")
    require(expectedNdv > 0, s"expectedNdv=$expectedNdv")
    val base = df.write.mode("overwrite")
    bloomCols.foldLeft(base) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }.parquet(dir)
  }

  // ------------------------------------------- zone maps (file skipping)

  /** Hadoop Configuration is not Serializable; this minimal envelope
    * (Configuration.write/readFields are its own wire format) ships it
    * to the footer-reading tasks. */
  private class ConfEnvelope(@transient var conf:
      org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** One zone-map entry: a row group's footer statistics for one column.
    * Numeric stats land in min_long/max_long (integral + date-as-days),
    * min_dbl/max_dbl (float/double), or min_str/max_str (UTF8 binary —
    * note parquet writers may TRUNCATE binary stats, so string bounds
    * are conservative, not exact); absent/untyped stats leave all NULL,
    * which [[prunedRead]] treats as "cannot prune". */
  final case class ZoneEntry(
      file: String, file_len: Long, row_group: Int, column: String,
      num_rows: Long, null_count: java.lang.Long,
      min_long: java.lang.Long, max_long: java.lang.Long,
      min_dbl: java.lang.Double, max_dbl: java.lang.Double,
      min_str: String, max_str: String)

  /** Zone map (file/row-group min-max index) over a parquet directory,
    * read from FOOTERS ONLY — no data page is touched, so building the
    * map over a 100 TB table costs one footer round-trip per file
    * (kilobytes each), distributed over the file list. This is the
    * data-skipping index a lakehouse table format maintains in its
    * manifest; on plain parquet directories it has to be harvested from
    * the files, and this harvest is the scan-avoidance primitive that
    * [[prunedRead]] (and any engine-side file pruning) builds on.
    *
    * The file LIST is driver-side (file-count-sized metadata, the same
    * scale every planner listing pays); footer I/O and stat extraction
    * run in tasks. Hidden files (`_SUCCESS`, dotfiles) are skipped.
    */
  def zoneMap(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val files = listDataFiles(spark, dir)
    require(files.nonEmpty, s"zoneMap: no parquet files under $dir")
    harvestZoneEntries(spark, files, cols)
  }

  /** Incremental zone-map maintenance: harvest footers of NEW files
    * only and union with the persisted map — the d15/c9 incremental
    * pattern applied to the metadata index, so keeping the map current
    * on a 100 TB table costs one footer round-trip per NEWLY LANDED
    * file instead of re-reading every footer per refresh (a daily
    * append of 0.1% of files costs 0.1% of the full harvest). Entries
    * for files no longer present are dropped (compaction/GC), entries
    * for still-present files are TRUSTED from `prev` — data files in an
    * append-only lake are immutable, the same assumption every manifest
    * format makes; an in-place rewrite that changes file LENGTH is
    * detected and re-harvested, a same-length rewrite is not. `prev`
    * must have been built by [[zoneMap]]/this over the same `cols`.
    * Footer BLOOM filters ([[writeBloomIndexed]]) need no such
    * maintenance: they live inside each data file and travel with it.
    *
    * The prev-file collect is file-count-sized metadata (path + length
    * per file), the same object the planner listing holds.
    */
  def zoneMapIncremental(spark: SparkSession, dir: String,
      cols: Seq[String], prev: DataFrame): DataFrame = {
    require(cols.nonEmpty, "zoneMapIncremental: no columns requested")
    incrementalRefresh(spark, dir, cols, prev, harvestZoneEntries)
  }

  /** Shared new-files-only refresh semantics for the footer-derived
    * metadata indexes ([[zoneMapIncremental]]/[[pageIndexIncremental]]):
    * entries for still-present same-LENGTH files are trusted from
    * `prev`, vanished files drop out, and only the remaining (new or
    * length-changed) files go through `harvest`. The prev-file collect
    * is file-count-sized metadata. */
  private def incrementalRefresh(spark: SparkSession, dir: String,
      cols: Seq[String], prev: DataFrame,
      harvest: (SparkSession, Seq[(String, Long)], Seq[String]) => DataFrame)
      : DataFrame = {
    val current = listDataFiles(spark, dir)
    require(current.nonEmpty, s"incremental refresh: no parquet files under $dir")
    val currentByPath = current.toMap
    val prevFiles = prev.select("file", "file_len").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val keepPrev = prevFiles.filter { case (f, len) =>
      currentByPath.get(f).contains(len) }.map(_._1).toSet
    val newFiles = current.filterNot { case (f, _) => keepPrev.contains(f) }
    val kept = prev.where(col("file").isInCollection(
      if (keepPrev.isEmpty) Seq("") else keepPrev.toSeq))
    if (newFiles.isEmpty) kept
    else kept.unionByName(harvest(spark, newFiles, cols))
  }

  /** Recursive (path, length) listing of the visible parquet data files
    * under `dir`: Hive-partitioned / nested layouts keep their data
    * files under key=value subdirectories, so a top-level-only
    * listStatus would index nothing (or only stray top-level files) and
    * prunedRead would then error instead of prune. listFiles streams
    * RemoteIterator batches — no directory-tree recursion on the driver
    * beyond what every planner listing pays. Files inside hidden
    * directories (`_temporary`, `.spark-staging`) are skipped along
    * with hidden files themselves.
    */
  private def listDataFiles(spark: SparkSession,
      dir: String): Seq[(String, Long)] = {
    import org.apache.hadoop.fs.Path
    val hPath = new Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listFiles returns QUALIFIED paths (scheme + authority); the
    // ancestor walk must stop at the equally-qualified root, NOT at a
    // string-length comparison against the raw `dir` argument — a
    // length check walks past the root into "_tables"/".cache"-style
    // ancestors OF the table and misclassifies the whole table hidden.
    val rootQ = fs.makeQualified(hPath)
    val it = fs.listFiles(hPath, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val n = p.getName
      val hiddenAncestor = {
        var q = p.getParent
        var hidden = false
        while (q != null && q != rootQ) {
          val qn = q.getName
          if (qn.startsWith("_") || qn.startsWith(".")) hidden = true
          q = q.getParent
        }
        hidden
      }
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".") && !hiddenAncestor)
        buf += ((p.toString, st.getLen))
    }
    buf.toSeq.sortBy(_._1)
  }

  /** Footer-stat harvest over an explicit file list (the distributed
    * half of [[zoneMap]]); one footer round-trip per file, in tasks. */
  private def harvestZoneEntries(spark: SparkSession,
      files: Seq[(String, Long)], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zoneMap: no columns requested")
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val env = new ConfEnvelope(conf)
    val wanted = cols.toArray
    import spark.implicits._
    val entries = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap { case (f, fLen) =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), env.conf))
        try {
          val blocks = reader.getFooter.getBlocks
          // Materialized INSIDE the try: a lazy iterator would outlive
          // the closed reader.
          val out: Vector[ZoneEntry] =
            (0 until blocks.size).iterator.flatMap { bi =>
            val block = blocks.get(bi)
            val byPath = new scala.collection.mutable.HashMap[String,
              org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
            block.getColumns.forEach(c =>
              byPath(c.getPath.toDotString) = c)
            wanted.iterator.map { name =>
              val base = ZoneEntry(f, fLen, bi, name, block.getRowCount,
                null, null, null, null, null, null, null)
              byPath.get(name) match {
                case Some(c) =>
                  val st = c.getStatistics
                  if (st == null || st.isEmpty) base
                  else {
                    val nulls: java.lang.Long =
                      if (st.isNumNullsSet) st.getNumNulls else null
                    if (!st.hasNonNullValue) base.copy(null_count = nulls)
                    else c.getPrimitiveType.getPrimitiveTypeName match {
                      case INT64 => base.copy(null_count = nulls,
                        min_long = st.genericGetMin.asInstanceOf[java.lang.Long],
                        max_long = st.genericGetMax.asInstanceOf[java.lang.Long])
                      case INT32 => base.copy(null_count = nulls,
                        min_long = st.genericGetMin
                          .asInstanceOf[java.lang.Integer].longValue,
                        max_long = st.genericGetMax
                          .asInstanceOf[java.lang.Integer].longValue)
                      case DOUBLE => base.copy(null_count = nulls,
                        min_dbl = st.genericGetMin.asInstanceOf[java.lang.Double],
                        max_dbl = st.genericGetMax.asInstanceOf[java.lang.Double])
                      case FLOAT => base.copy(null_count = nulls,
                        min_dbl = st.genericGetMin
                          .asInstanceOf[java.lang.Float].doubleValue,
                        max_dbl = st.genericGetMax
                          .asInstanceOf[java.lang.Float].doubleValue)
                      case BINARY => base.copy(null_count = nulls,
                        min_str = st.minAsString, max_str = st.maxAsString)
                      case _ => base.copy(null_count = nulls)
                    }
                  }
                case None => base
              }
            }
          }.toVector
          out
        } finally reader.close()
      }
      .toDF()
    entries
  }

  /** Read of `dir` pruned to the files whose footer statistics can
    * contain `column` ∈ [lo, hi] — parquet's own row-group skipping
    * works INSIDE each file Spark opens, but the listing itself still
    * enumerates and schedules every file; on a 100 TB directory the
    * win is not opening 98% of them at all. Files with no usable stats
    * for the column are conservatively KEPT (never an answer change),
    * and the residual filter keeps semantics exact whatever the stats
    * say: the result equals the unpruned filtered read at any layout.
    * Pruning only SAVES work when the layout clusters the column —
    * range-partition or [[zOrderBy]] the write for that.
    *
    * The keep-list collect is file-count-sized metadata (never rows),
    * the same object the driver's planner would hold anyway.
    */
  def prunedRead(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"prunedRead: empty range [$lo, $hi]")
    val zm = zoneMap(spark, dir, Seq(column))
    val keep = zm.groupBy(col("file"))
      .agg(max(when(col("min_long").isNull.or(col("max_long").isNull), 1)
          .otherwise(0)).as("unknown"),
        max(when(col("max_long") >= lo && col("min_long") <= hi, 1)
          .otherwise(0)).as("hit"))
      .where(col("unknown") === 1 || col("hit") === 1)
      .select("file")
      .collect().map(_.getString(0)).sorted
    val pred = col(column).between(lo, hi)
    if (keep.isEmpty)
      // Nothing can match: preserve the schema via a footer-only read.
      spark.read.parquet(dir).where(lit(false)).where(pred)
    else spark.read.parquet(keep: _*).where(pred)
  }

  // ----------------------------- page-level column indexes (PARQUET-1201)

  /** One page-index entry: a data PAGE's min/max from the parquet
    * column index (PARQUET-1201) plus its row span from the offset
    * index. Page stats are strictly finer than [[ZoneEntry]]'s
    * row-group stats: a row group whose min/max spans a key GAP (e.g.
    * sorted keys 0..999 then 3000..3999 in one group) reports a wide
    * range, while its pages bound each side tightly — so a predicate
    * falling in the gap prunes at page granularity when row-group
    * stats cannot. `page = -1` with NULL stats marks a column chunk
    * that carries no column index (older writer, or stats disabled):
    * [[prunedReadByPages]] treats it as "cannot prune", never an
    * answer change. Binary bounds may be writer-TRUNCATED (conservative
    * as bounds, not exact values). A page that is entirely NULL
    * (`null_page`) carries no value bounds and cannot match a value
    * predicate. */
  final case class PageEntry(
      file: String, file_len: Long, row_group: Int, column: String, page: Int,
      first_row: Long, row_count: Long, null_page: Boolean,
      min_long: java.lang.Long, max_long: java.lang.Long,
      min_dbl: java.lang.Double, max_dbl: java.lang.Double,
      min_str: String, max_str: String)

  /** Page-granular metadata index over a parquet directory, from the
    * footers' column+offset indexes ONLY — like [[zoneMap]], no data
    * page is decompressed, so the harvest over a 100 TB table is one
    * footer round-trip per file, distributed over the file list. The
    * column index (PARQUET-1201, written by default since parquet-mr
    * 1.11 — every Spark-written file has it) stores per-PAGE min/max,
    * typically 20k rows per page vs millions per row group: the finest
    * data-skipping granularity available without changing the layout.
    * Spark's own scan uses these indexes internally for row-range
    * skipping INSIDE files it opens; harvesting them into a relation
    * additionally enables (a) whole-file pruning decisions finer than
    * row-group stats ([[prunedReadByPages]]) and (b) layout-quality
    * inspection (page-range overlap tells you whether a sort/z-order
    * actually clustered the column) as ordinary SQL over this frame. */
  def pageIndex(spark: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val files = listDataFiles(spark, dir)
    require(files.nonEmpty, s"pageIndex: no parquet files under $dir")
    harvestPageEntries(spark, files, cols)
  }

  /** Incremental page-index maintenance — [[zoneMapIncremental]]'s
    * new-files-only refresh applied to the page-granular index: entries
    * for still-present same-length files are TRUSTED from `prev`
    * (immutable data files), vanished files drop out, only newly landed
    * files' footers are read. `prev` must have been built by
    * [[pageIndex]]/this over the same `cols`. */
  def pageIndexIncremental(spark: SparkSession, dir: String,
      cols: Seq[String], prev: DataFrame): DataFrame = {
    require(cols.nonEmpty, "pageIndexIncremental: no columns requested")
    incrementalRefresh(spark, dir, cols, prev, harvestPageEntries)
  }

  /** Footer column+offset-index harvest over an explicit file list (the
    * distributed half of [[pageIndex]]). */
  private def harvestPageEntries(spark: SparkSession,
      files: Seq[(String, Long)], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "pageIndex: no columns requested")
    import org.apache.hadoop.fs.Path
    val env = new ConfEnvelope(spark.sparkContext.hadoopConfiguration)
    val wanted = cols.toArray
    import spark.implicits._
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap { case (f, fLen) =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), env.conf))
        try {
          val blocks = reader.getFooter.getBlocks
          val out: Vector[PageEntry] =
            (0 until blocks.size).iterator.flatMap { bi =>
              val block = blocks.get(bi)
              val byPath = new scala.collection.mutable.HashMap[String,
                org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
              block.getColumns.forEach(c =>
                byPath(c.getPath.toDotString) = c)
              wanted.iterator.flatMap { name =>
                val unknown = PageEntry(f, fLen, bi, name, -1, -1L,
                  block.getRowCount, false,
                  null, null, null, null, null, null)
                byPath.get(name) match {
                  case None => Iterator.single(unknown)
                  case Some(c) =>
                    val ci = reader.readColumnIndex(c)
                    val oi = reader.readOffsetIndex(c)
                    if (ci == null || oi == null) Iterator.single(unknown)
                    else {
                      val tpe = c.getPrimitiveType.getPrimitiveTypeName
                      val mins = ci.getMinValues
                      val maxs = ci.getMaxValues
                      val nullPages = ci.getNullPages
                      val n = oi.getPageCount
                      (0 until n).iterator.map { pi =>
                        val first = oi.getFirstRowIndex(pi)
                        val rows =
                          (if (pi + 1 < n) oi.getFirstRowIndex(pi + 1)
                           else block.getRowCount) - first
                        val isNull = nullPages.get(pi)
                        val base = PageEntry(f, fLen, bi, name, pi, first,
                          rows, isNull, null, null, null, null, null, null)
                        def le(i: Int, bufs: java.util.List[
                            java.nio.ByteBuffer]) = bufs.get(i)
                          .duplicate()
                          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                        // Either bound empty (writer truncation quirk)
                        // -> unknown page, never a buffer underflow.
                        if (isNull || mins.get(pi).remaining() == 0 ||
                            maxs.get(pi).remaining() == 0) base
                        else tpe match {
                          case INT64 => base.copy(
                            min_long = le(pi, mins).getLong,
                            max_long = le(pi, maxs).getLong)
                          case INT32 => base.copy(
                            min_long = le(pi, mins).getInt.toLong,
                            max_long = le(pi, maxs).getInt.toLong)
                          case DOUBLE => base.copy(
                            min_dbl = le(pi, mins).getDouble,
                            max_dbl = le(pi, maxs).getDouble)
                          case FLOAT => base.copy(
                            min_dbl = le(pi, mins).getFloat.toDouble,
                            max_dbl = le(pi, maxs).getFloat.toDouble)
                          case BINARY =>
                            def str(bb: java.nio.ByteBuffer) = {
                              val a = new Array[Byte](bb.remaining())
                              bb.get(a)
                              new String(a, java.nio.charset
                                .StandardCharsets.UTF_8)
                            }
                            base.copy(min_str = str(le(pi, mins)),
                              max_str = str(le(pi, maxs)))
                          case _ => base
                        }
                      }
                    }
                }
              }
            }.toVector
          out
        } finally reader.close()
      }
      .toDF()
  }

  /** [[prunedRead]] at PAGE granularity: a file is opened only if some
    * page's bounds can contain `column` ∈ [lo, hi] (or carries no
    * usable stats — conservatively kept, never an answer change). On a
    * layout that is sorted WITHIN files but has key gaps (compacted
    * time ranges, resequenced ids, z-order fragments), row-group stats
    * straddle the gaps and keep the file while page stats exclude it —
    * strictly fewer files opened than [[prunedRead]], at the same
    * footer-only harvest cost, and the residual filter keeps the
    * result exact at any layout. All-NULL pages cannot match a value
    * predicate and do not retain a file. */
  def prunedReadByPages(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"prunedReadByPages: empty range [$lo, $hi]")
    val pm = pageIndex(spark, dir, Seq(column))
    val keep = pm.groupBy(col("file"))
      // A page with NULL long-bounds is "unknown" (missing index, or a
      // non-integral column this Long-range API can't bound) and KEEPS
      // the file, exactly as [[prunedRead]] does; only an all-NULL page
      // is both known and unmatchable.
      .agg(max(when(!col("null_page") &&
            (col("min_long").isNull || col("max_long").isNull), 1)
          .otherwise(0)).as("unknown"),
        max(when(col("max_long") >= lo && col("min_long") <= hi, 1)
          .otherwise(0)).as("hit"))
      .where(col("unknown") === 1 || col("hit") === 1)
      .select("file")
      .collect().map(_.getString(0)).sorted
    val pred = col(column).between(lo, hi)
    if (keep.isEmpty)
      spark.read.parquet(dir).where(lit(false)).where(pred)
    else spark.read.parquet(keep: _*).where(pred)
  }

  /** Layout-quality report from the page index: per column, how well
    * the physical layout CLUSTERS the values — the number every
    * sort/z-order decision should be driven by, measured from footers
    * alone (no data read). For each requested integral column:
    *
    *  - `n_pages` / `n_files`: index granularity.
    *  - `avg_width_frac`: mean page width (max−min) over the global
    *    width — ~pageRows/totalRows on perfectly clustered data, →1 on
    *    random layouts (every page spans everything).
    *  - `overlap_frac`: fraction of adjacent page pairs (globally
    *    sorted by (min, max)) whose ranges overlap — 0 on perfectly
    *    clustered, →1 on random. (1 − avg_width_frac is the expected
    *    fraction of pages a uniform-random point predicate skips.)
    *
    * A column with high overlap/width is the one to [[zOrderBy]] or
    * range-repartition on; re-running the report after the rewrite
    * quantifies the gain. Pages without usable long stats are ignored
    * (reported in `n_unknown_pages`). The whole computation aggregates
    * the page-index relation — driver holds one row per column.
    *
    * Scale shape: the adjacency count is a per-column window over the
    * PAGE INDEX, which is ~1/20000th of the data rows (one entry per
    * ~20k-row page) — metadata-sized well into the tens of TB. For a
    * table whose page index itself is huge, `sampleFrac` < 1 keeps a
    * deterministic hash-sample of pages (unbiased width estimate;
    * overlap measured among sampled neighbours) so the window input
    * stays bounded. */
  def clusteringReport(spark: SparkSession, dir: String,
      cols: Seq[String], sampleFrac: Double = 1.0): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"clusteringReport: sampleFrac=$sampleFrac out of (0, 1]")
    val pmAll = pageIndex(spark, dir, cols)
    val pm =
      if (sampleFrac >= 1.0) pmAll
      else pmAll.where(col("page") < 0 ||
        pmod(xxhash64(col("file"), col("row_group"),
          col("column"), col("page")), lit(1000000L))
        < lit((sampleFrac * 1000000L).toLong))
    val known = pm.where(col("page") >= 0 && !col("null_page") &&
      col("min_long").isNotNull && col("max_long").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column")).orderBy(col("min_long"), col("max_long"))
    val knownAgg = known
      .withColumn("prev_max", lag(col("max_long"), 1).over(w))
      .groupBy(col("column"))
      .agg(
        count(lit(1)).as("n_pages"),
        countDistinct(col("file")).as("n_files"),
        min(col("min_long")).as("g_min"),
        max(col("max_long")).as("g_max"),
        sum(col("max_long") - col("min_long")).as("width_sum"),
        sum(when(col("prev_max").isNotNull &&
            col("min_long") <= col("prev_max"), 1L).otherwise(0L))
          .as("n_overlaps"))
    // Drive from the unknown-count side (which covers EVERY requested
    // column — index-less chunks emit page = -1 markers), so a column
    // with no usable stats still reports a row (metrics NULL) instead
    // of vanishing from the report.
    pm.groupBy(col("column"))
      .agg(sum(when(col("page") < 0 || col("null_page") ||
          col("min_long").isNull || col("max_long").isNull, 1L)
          .otherwise(0L)).as("n_unknown_pages"))
      .join(knownAgg, Seq("column"), "left")
      .select(col("column"),
        coalesce(col("n_pages"), lit(0L)).as("n_pages"),
        coalesce(col("n_files"), lit(0L)).as("n_files"),
        col("n_unknown_pages"),
        when(col("g_max") > col("g_min"),
          col("width_sum").cast("double") /
            (col("n_pages") * (col("g_max") - col("g_min"))))
          .otherwise(when(col("n_pages").isNotNull, lit(0.0)))
          .as("avg_width_frac"),
        when(col("n_pages") > 1,
          col("n_overlaps").cast("double") / (col("n_pages") - 1))
          .otherwise(when(col("n_pages").isNotNull, lit(0.0)))
          .as("overlap_frac"))
  }
}
