package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** Relational operators reproducing the reference's dataflow semantics
  * (SURVEY.md §2.3–2.5, §2.7–2.8) as `DataFrame => DataFrame` combinators.
  *
  * Scale posture (100 TB): every combinator is keyed or partitionable — the
  * joins shuffle on their equality key (or broadcast the small side), the
  * windows partition by group key, and nothing collects to the driver.
  */
object Relational {

  /** P1 fixed projection — normalize to a declared column list, in order,
    * missing/null filled with "" (pet_scraper.py:341-361, 435-451).
    */
  def fixedProjection(df: DataFrame, columns: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(columns.map { c =>
      if (present(c)) coalesce(col(c).cast("string"), lit("")).as(c)
      else lit("").as(c)
    }: _*)
  }

  /** F1 placeholder filter — drop rows whose normalized value is a known
    * placeholder (pet_scraper.py:375-377).
    */
  def placeholderFilter(df: DataFrame, c: Column, placeholders: Seq[String]): DataFrame =
    df.filter(!Scalars.lowerTrim(c).isin(placeholders.map(_.toLowerCase): _*))

  /** F2 row-quality filter — drop a row when ≥ `threshold` fraction of the
    * checked fields are missing (pet_scraper.py:364-407). Horizontal
    * expression, no shuffle.
    */
  def nullRatioKeep(fields: Seq[Column], threshold: Double): Column =
    Scalars.missingCount(fields) < lit(threshold * fields.size)

  /** F3 field-failure validity — valid iff fewer than `maxFailures` of the
    * checked fields are missing (verify.py:9-37, pet_scraper.py:549-568).
    */
  def fieldFailureValid(fields: Seq[Column], maxFailures: Int): Column =
    Scalars.missingCount(fields) < lit(maxFailures)

  /** J1 distinct key set (server.py:75-88). */
  def distinctKeys(df: DataFrame, key: String): DataFrame =
    df.select(key).distinct()

  /** J2 semi-join membership probe (server.py:91-93, 200-203). */
  def semiJoin(probe: DataFrame, existing: DataFrame, key: String): DataFrame =
    probe.join(existing.select(key), Seq(key), "left_semi")

  /** J3 anti-join new-records filter (server.py:194-207). The reference
    * materializes the key set in memory and probes it — i.e. a broadcast
    * anti-join; at 100 TB the key side may be the big one, so we leave the
    * build-side choice to AQE rather than forcing `broadcast()`.
    */
  def antiJoin(probe: DataFrame, existing: DataFrame, key: String): DataFrame =
    probe.join(existing.select(key), Seq(key), "left_anti")

  /** J4 keyed upsert / merge — pet_scraper.py:410-466. Update-in-place when
    * the key matches (update's non-null columns win, absent columns keep the
    * existing value — P3), append otherwise. Exactly-one-row-per-key invariant
    * holds if it held for both inputs.
    *
    * Additive schema evolution: a column present in `updates` but NOT in
    * `existing` is appended to the output (existing rows get null) instead
    * of silently dropped — the long-running-store case where a new field
    * starts arriving mid-stream and the snapshot schema must widen without
    * a rebuild. Columns never narrow: existing columns absent from the
    * update keep their values, so replaying old (narrow) batches after an
    * evolution cannot un-evolve the table.
    *
    * Deliberate deviation from the reference: a column PRESENT in the update
    * but null keeps the existing value here ("null means no value"), whereas
    * pet_scraper.py:436-446 stringifies present-but-None to "" and overwrites.
    * The engine's tables carry real nulls (not stringly CSV), so null-as-absent
    * is the faithful translation of "the scrape produced nothing"; callers who
    * want the overwrite encode "" explicitly (as the CSV export path does).
    *
    * Implementation: single full-outer shuffle join on the key + per-column
    * `coalesce` — one shuffle, no window, no driver state. At 100 TB both
    * sides hash-partition on the key.
    */
  def upsertMerge(existing: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val e = existing.alias("e")
    val u = updates.alias("u")
    val valueCols = existing.columns.filterNot(_ == key)
    val merged = e.join(u, col(s"e.$key") === col(s"u.$key"), "full_outer")
    val updateCols = updates.columns.toSet
    val existingCols = existing.columns.toSet
    // schema evolution: update-only columns append after the existing ones
    // (stable order: update's own column order), null on unmatched rows
    val newCols = updates.columns.filter(c => c != key && !existingCols(c))
    merged.select(
      coalesce(col(s"u.$key"), col(s"e.$key")).as(key) +:
        (valueCols.map { c =>
          if (updateCols(c)) coalesce(col(s"u.$c"), col(s"e.$c")).as(c)
          else col(s"e.$c").as(c)
        } ++ newCols.map(c => col(s"u.$c").as(c))): _*
    )
  }

  /** J3+J4 insert-only merge (server.py:194-207 + pet_scraper.py:410-466):
    * a key already in `existing` keeps its stored row whole, and a row of
    * `inserts` whose key is new is appended — the anti-join and the merge
    * in ONE full-outer shuffle join on the key, with no separate key-set
    * probe. `inserts` must hold one row per key (dedup first). Schema
    * evolution and output columns as [[upsertMerge]]: update-only columns
    * append, null on stored rows. A null key never matches, so a
    * null-keyed insert is appended and a null-keyed stored row stays; the
    * `__new` marker, not the key, tells an insert from a stored row.
    */
  def insertNew(existing: DataFrame, inserts: DataFrame, key: String): DataFrame = {
    val e = existing.alias("e")
    val u = inserts.withColumn("__new", lit(true)).alias("u")
    val stored = col("u.__new").isNull || col(s"e.$key").isNotNull
    def pick(c: String) = when(stored, col(s"e.$c")).otherwise(col(s"u.$c"))
    val insertCols = inserts.columns.toSet
    val existingCols = existing.columns.toSet
    val newCols = inserts.columns.filter(c => c != key && !existingCols(c))
    e.join(u, col(s"e.$key") === col(s"u.$key"), "full_outer").select(
      pick(key).as(key) +:
        (existing.columns.filterNot(_ == key).map { c =>
          if (insertCols(c)) pick(c).as(c) else col(s"e.$c").as(c)
        } ++ newCols.map(c => when(!stored, col(s"u.$c")).as(c))): _*
    )
  }

  /** F4 delete-by-predicate compaction — keep survivors (server.py:226-315).
    * The overwrite itself is the caller's concern (Spark's commit protocol
    * supplies the reference's tmp+rename atomicity for free, SURVEY.md §4).
    */
  def deleteSurvivors(df: DataFrame, valid: Column): DataFrame =
    df.filter(valid)

  /** A5 removed-vs-remaining summary (server.py:308) — two-sided conditional
    * aggregate in one pass.
    */
  def compactionSummary(df: DataFrame, valid: Column): DataFrame =
    df.agg(
      sum(when(valid, lit(1L)).otherwise(lit(0L))).as("remaining"),
      sum(when(valid, lit(0L)).otherwise(lit(1L))).as("removed"),
      count(lit(1)).as("total")
    )

  /** Skew-mitigating equi-join: the big side's rows are spread across
    * `salts` sub-keys (deterministic content hash, so retries don't
    * reshuffle differently), the small side is replicated once per salt
    * value, and the join runs on (key, salt) — splitting a hot key's hash
    * partition into `salts` parallel ones. AQE's skew-join split handles
    * sort-merge cases adaptively; this operator is for the plans AQE can't
    * rewrite (e.g. a skewed key feeding a downstream keyed aggregation) and
    * as the explicit 100 TB knob. Result is bag-equal to a plain equi-join.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(!big.columns.contains("__graft_salt") && !small.columns.contains("__graft_salt"),
      "__graft_salt column name is reserved by saltedJoin")
    // Salt from the row's CONTENT, not its position: monotonically_increasing_id
    // is nondeterministic across task re-execution, so after a shuffle-fetch
    // failure a recomputed map task could salt the same rows differently than
    // the lost attempt and silently drop/duplicate join rows (ADVICE r7) —
    // stage retries are routine in exactly the 100 TB regime this operator
    // targets. Map-typed columns hash via their JSON form (xxhash64 rejects
    // maps); rows identical in EVERY column share a salt, so a hot key whose
    // rows are literal duplicates stays unspread — dedup first if that bites.
    val saltedBig = big.withColumn("__graft_salt",
      pmod(rowContentHash(big), lit(salts.toLong)).cast("int"))
    val saltedSmall = small.withColumn("__graft_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__graft_salt")).drop("__graft_salt")
  }

  /** The salt fan-out formula shared by the skew REPORT (`q_skew_report`)
    * and the skew JOIN ([[autoSalted]]): replicas needed so one key's rows
    * spread across averagely-loaded partitions of a `targetTasks`-wide
    * stage — `ceil(cnt · targetTasks / total)`, floored at 1 (= no salting).
    * Integer-only (`div`), per the engine's oracle-parity conventions.
    * `cnt`/`total` are column NAMES resolved in the caller's frame.
    */
  def saltFanoutSql(cnt: String, total: String, targetTasks: Long): String =
    s"greatest(1L, ($cnt * $targetTasks + $total - 1) div $total)"

  /** Skew join with MEASURED per-key fan-out — [[saltedJoin]] driven by the
    * `q_skew_report` histogram instead of a caller-guessed constant, and
    * salting ONLY the keys that need it.
    *
    * Plan: one partial-aggregated keyed count over `big` (the histogram any
    * skew decision needs), keep just the keys whose [[saltFanoutSql]]
    * fan-out exceeds 1 — by construction at most `targetTasks` such keys
    * can exist (each holds > total/targetTasks rows), so the heavy set is
    * always broadcastable no matter the corpus size. Both sides pick up
    * their key's fan-out from that broadcast (absent ⇒ 1): big-side rows
    * spread position-mod-n, small-side rows replicate n×. Cold keys pay
    * zero replication; the join runs on (key, salt).
    *
    * vs AQE skew-join: AQE splits skewed SORT-MERGE partitions reactively;
    * this is the proactive form that also covers broadcast-ineligible
    * downstream aggregations and keeps working when the skew is in the
    * grouping that FOLLOWS the join. Result is bag-equal to a plain inner
    * equi-join (AutoSaltedSpec pins it, plus the bounded-task property).
    */
  def autoSalted(big: DataFrame, small: DataFrame, key: String, targetTasks: Long = 256L): DataFrame = {
    require(targetTasks > 0, "targetTasks must be positive")
    for (c <- Seq("__graft_salt", "__salt_n"))
      require(!big.columns.contains(c) && !small.columns.contains(c),
        s"$c column name is reserved by autoSalted")
    val (saltedBig, saltedSmall) = saltedSides(big, small, key, targetTasks)
    saltedBig.join(saltedSmall, Seq(key, "__graft_salt")).drop("__graft_salt")
  }

  /** The two salted inputs of [[autoSalted]] — package-private so the
    * bounded-task property (max rows per (key, salt) cell) is assertable
    * directly rather than inferred from the joined output.
    */
  private[graft] def saltedSides(
      big: DataFrame, small: DataFrame, key: String, targetTasks: Long): (DataFrame, DataFrame) = {
    // both joins consume the fan-out map; the LAZY checkpoint computes the
    // histogram aggregate over `big` — the expensive part — once at first
    // action instead of once per join, truncates its lineage out of both
    // join plans, and keeps autoSalted itself side-effect-free to construct
    // (an eager checkpoint would run a job just to build the frame — r7
    // review). The pinned blocks are ≤ targetTasks rows per call, freed by
    // GC with the returned frame.
    val heavy = heavyKeyFanout(big, key, targetTasks).localCheckpoint(eager = false)
    val withN = coalesce(col("__salt_n"), lit(1L))
    // content-derived salt (see saltedJoin): deterministic under task retry,
    // which matters doubly here — q_salted_join grades this path against an
    // exact row hash (ADVICE r7). Hash columns come from `big`'s own schema;
    // the left join preserves them all.
    val saltedBig = big.join(broadcast(heavy), Seq(key), "left")
      .withColumn("__graft_salt",
        pmod(rowContentHash(big), withN).cast("int"))
      .drop("__salt_n")
    val saltedSmall = small.join(broadcast(heavy), Seq(key), "left")
      .withColumn("__graft_salt",
        explode(sequence(lit(0), withN.cast("int") - 1)))
      .drop("__salt_n")
    (saltedBig, saltedSmall)
  }

  /** Deterministic whole-row hash used as the salt source by [[saltedJoin]]
    * and [[autoSalted]]: xxhash64 over every column of `df`'s schema, with
    * map-typed columns (at any nesting depth) serialized to JSON first —
    * xxhash64 rejects MapType, and maps were the reason the salt was ever
    * positional. Evaluated against a frame that still CARRIES those columns
    * (e.g. after a fan-out join), not necessarily `df` itself.
    */
  private def rowContentHash(df: DataFrame): Column = {
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType    => true
      case a: ArrayType  => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _             => false
    }
    xxhash64(df.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** The heavy-key slice of the skew histogram: (key, __salt_n) for keys
    * whose fan-out > 1 — ≤ targetTasks rows, the broadcastable core of
    * [[autoSalted]]. Exposed for tests and for callers that want to reuse
    * one histogram across several joins on the same key.
    */
  private[graft] def heavyKeyFanout(big: DataFrame, key: String, targetTasks: Long): DataFrame = {
    val counts = big.groupBy(col(key)).agg(count(lit(1)).as("__cnt"))
    val tot    = counts.agg(sum(col("__cnt")).as("__total"))
    counts.crossJoin(broadcast(tot))
      .select(col(key),
        expr(saltFanoutSql("__cnt", "__total", targetTasks)).as("__salt_n"))
      .filter(col("__salt_n") > 1)
  }

  /** Top-k per group (the reference's 12-links-per-page cap,
    * link_scraper.py:100-113). `orderCols` must be a total order within the
    * partition for determinism.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Pagination window (server.py:350 page enumeration): assign a 1-based
    * global row number and page of `pageSize` rows in `orderCols` order —
    * WITHOUT a global single-partition window (the r1 scale-killer).
    *
    * Distributed plan: range-repartition on the order key (gives a total
    * order ACROSS partitions), `row_number` within each partition (parallel
    * windows), then add per-partition offsets computed from a tiny
    * partition-count aggregate that is broadcast back. The only global window
    * runs over one row per partition (≤ shuffle.partitions rows). At 100 TB
    * every stage stays parallel; nothing funnels through one task.
    *
    * `orderCols` must be a unique total order (same requirement the global
    * window had) for a deterministic numbering.
    */
  def paginate(df: DataFrame, orderCols: Seq[Column], pageSize: Int): DataFrame = {
    val ranged   = df.repartitionByRange(orderCols: _*).withColumn("__pid", spark_partition_id())
    val perPart  = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val numbered = ranged.withColumn("__prn", row_number().over(perPart))
    // Offsets come from `numbered` ITSELF (max row_number = partition count),
    // not from a second `ranged` branch — so the partition ids used by the
    // join and by the counts share one lineage and cannot disagree even if
    // exchange reuse is off or range sampling were nondeterministic
    // (ADVICE r2). One row per partition; the cumulative-sum window runs
    // over that tiny set only.
    // Cumulative offsets via a triangular self-join over the per-partition
    // counts (≤ shuffle.partitions rows, so the quadratic join is trivial)
    // rather than a global window — a partition-less WindowExec funnels
    // through one task and logs the "No Partition Defined" scale warning
    // even on tiny inputs.
    val counts = numbered.groupBy(col("__pid")).agg(max(col("__prn")).cast("long").as("__cnt"))
    val offsets = counts.alias("a")
      .join(counts.alias("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__cnt")), lit(0L)).as("__offset"))
    // rn stays LONG: an int cast would silently overflow past ~2.1B rows
    // (ADVICE r2) — the exact regime this operator exists for.
    numbered.join(broadcast(offsets), Seq("__pid"))
      .withColumn("rn", col("__offset") + col("__prn"))
      .withColumn("page", floor((col("rn") - 1) / pageSize).cast("long") + 1)
      .drop("__pid", "__prn", "__offset")
  }

  /** As-of join via the union-tag trick: every probe row picks up the build
    * row with the greatest `ts` at-or-before its own, per `key` — WITHOUT an
    * inequality join (Spark would execute one as a nested-loop; this is one
    * shuffle on `key` + one ordered window).
    *
    * Output = all probe rows (probe columns unchanged) + each build payload
    * column as `asof_<name>` + `asof_<ts>` (all null when no build row
    * precedes the probe). Build rows must be unique per (key, ts) — collapse
    * them first (e.g. groupBy(key, ts).agg(max ...)) or the pick among
    * same-instant build rows is window-order-dependent.
    *
    * Scale posture (100 TB): the single window partitions by `key`; state is
    * one carried row per build column. A time-bucketed pre-partition
    * (repartitionByRange on (key, ts)) composes transparently if one user's
    * history ever exceeds a task's sort budget.
    */
  def asofJoin(probe: DataFrame, build: DataFrame, key: String, ts: String): DataFrame = {
    val probePayload = probe.columns.filterNot(c => c == key || c == ts)
    val buildPayload = build.columns.filterNot(c => c == key || c == ts)
    def nulled(src: DataFrame, c: String, as: String) =
      lit(null).cast(src.schema(c).dataType).as(as)
    // the whole build row travels as ONE struct, carried atomically by a
    // single last(ignoreNulls) — carrying each payload column independently
    // would stitch values from DIFFERENT build rows whenever a payload value
    // is genuinely null (each column's own last non-null)
    val buildStruct = struct(buildPayload.map(col(_)) :+ col(ts).as(s"__$ts"): _*)
    // build rows tag 0: at equal ts they sort BEFORE the probe, so
    // "at-or-before" includes a same-instant build row
    val tagged = build
      .select(col(key) +: col(ts) +: lit(0).as("__tag") +:
        (probePayload.map(c => nulled(probe, c, c)) :+ buildStruct.as("__b")): _*)
      .unionByName(probe
        .select(col(key) +: col(ts) +: lit(1).as("__tag") +:
          (probePayload.map(col(_)) :+
            lit(null).cast(build.select(buildStruct).schema.head.dataType).as("__b")): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("__b", last(col("__b"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select((col(key) +: col(ts) +: probePayload.map(col(_))) ++
        buildPayload.map(c => col(s"__b.$c").as(s"asof_$c")) :+
        col(s"__b.__$ts").as(s"asof_$ts"): _*)
  }
}
