package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.t
import graft.functions.Agg

/** The reference's core workload shape — the point-in-time feature store
  * (reference sql/feature_store_drivers.sql:1-171, driven per-date by
  * scripts/spark_ops.py:177-194) — re-expressed over the star schema:
  * supplier features as of a reference date, computed only from lineitem
  * events <= that date (no leakage).
  *
  * Mirrors the reference structurally:
  *  - tb_results analog: projected/cast/filtered lineitem (P1-P5);
  *  - tb_drivers analog: keys active in the trailing year, applied as a
  *    semi-join to each aggregate (J5, fs.sql:24-28,59,87,117);
  *  - three aggregate batteries over lifetime / trailing-1-year /
  *    current-season windows (A1-A3) with conditional counts (A5), exact
  *    medians incl. conditional (A6), conditional avg (A7), avg over an
  *    expression (A8), COUNT(*) (A9), MAX(literal) dtRef carry (A10),
  *    SUM over the current season (fs.sql:115);
  *  - left-join chain of the three batteries on the key (J1,
  *    fs.sql:168-170) + a date-expression join attaching a per-refdate
  *    event attribute (J2, fs.sql:171).
  *
  * Scale posture: one shuffle per battery (groupBy l_suppkey) + one for the
  * semi-join; the three batteries join on the same key so AQE broadcasts the
  * (tiny, one-row-per-key) build sides. The point-in-time filter is pushed
  * to the parquet scan. At 100 TB the per-date driver loop batches dates
  * (see etl.Ingestor) rather than widening this single-date plan.
  */
object PointInTime {

  val refDate = "1999-06-30"

  def supplierFeatures(s: SparkSession, dir: String, date: String): DataFrame = {
    val refD = to_date(lit(date))

    // tb_results analog (fs.sql:1-17): project, cast, point-in-time cut.
    val li = t(s, dir, "lineitem").select(
      col("l_suppkey"), col("l_returnflag"), col("l_quantity"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"),
      to_date(col("l_shipdate")).as("dt_event"))
      .filter(col("dt_event") <= refD)

    // tb_drivers analog (fs.sql:24-28): keys active in the trailing year.
    val active = li
      .filter(col("dt_event") >= (refD - expr("INTERVAL 1 YEAR")).cast("date"))
      .select("l_suppkey").distinct()

    // One battery = the A5/A6/A7/A8/A9 aggregate set with a suffix.
    def battery(src: DataFrame, sfx: String): DataFrame =
      src.join(active, Seq("l_suppkey"), "left_semi")
        .groupBy("l_suppkey").agg(
          count(lit(1)).as(s"qtd_runs$sfx"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0))
            .as(s"qtd_returns$sfx"),
          avg(col("l_quantity")).as(s"avg_qty$sfx"),
          avg(when(col("l_returnflag") === "R", col("l_quantity")))
            .as(s"avg_qty_r$sfx"),
          avg(col("net") - col("l_quantity")).as(s"avg_margin$sfx"),
          Agg.median(s, col("l_quantity")).as(s"median_qty$sfx"),
          Agg.median(s, col("net")).as(s"median_net$sfx"),
          Agg.median(s, when(col("l_returnflag") === "R", col("net")))
            .as(s"median_net_r$sfx"))

    // fs.sql:30-61 / 63-90 / 92-120: lifetime, trailing year, current season.
    val life = li.join(active, Seq("l_suppkey"), "left_semi")
      .groupBy("l_suppkey").agg(
        max(lit(date)).as("dt_ref"),                       // A10 dtRef carry
        year(refD).as("dt_year"),
        count(lit(1)).as("qtd_runs"),
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("qtd_returns"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(when(col("l_returnflag") === "R", col("l_quantity"))).as("avg_qty_r"),
        avg(col("net") - col("l_quantity")).as("avg_margin"),
        Agg.median(s, col("l_quantity")).as("median_qty"),
        Agg.median(s, col("net")).as("median_net"),
        Agg.median(s, when(col("l_returnflag") === "R", col("net")))
          .as("median_net_r"))
    val lastYear = battery(
      li.filter(col("dt_event") >= (refD - expr("INTERVAL 1 YEAR")).cast("date")),
      "_1y")
    val current = li.filter(year(col("dt_event")) >= year(refD))
      .join(active, Seq("l_suppkey"), "left_semi")
      .groupBy("l_suppkey").agg(
        count(lit(1)).as("qtd_runs_cur"),
        sum(col("net")).as("total_net_cur"),
        avg(col("l_quantity")).as("avg_qty_cur"),
        Agg.median(s, col("net")).as("median_net_cur"))

    // tb_event analog (fs.sql:19-22,171): per-refdate attribute via a
    // date-expression left join.
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders_ref"))

    life
      .join(lastYear, Seq("l_suppkey"), "left")     // fs.sql:168-169
      .join(current, Seq("l_suppkey"), "left")      // fs.sql:170
      .join(daily, to_date(col("dt_ref")) === col("d"), "left") // fs.sql:171
      .drop("d")
      .orderBy("l_suppkey")
  }

  private def oracleFor(date: String): String =
    s"""WITH li AS (
          SELECT l_suppkey, l_returnflag, l_quantity,
                 l_extendedprice * (1 - l_discount) AS net,
                 CAST(l_shipdate AS DATE) AS dt_event
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) <= DATE '$date'),
        active AS (
          SELECT DISTINCT l_suppkey FROM li
          WHERE dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE)),
        life AS (
          SELECT l_suppkey, MAX('$date') AS dt_ref,
                 CAST(year(DATE '$date') AS INT) AS dt_year,
                 CAST(COUNT(*) AS BIGINT) AS qtd_runs,
                 CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS qtd_returns,
                 AVG(l_quantity) AS avg_qty,
                 AVG(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS avg_qty_r,
                 AVG(net - l_quantity) AS avg_margin,
                 median(l_quantity) AS median_qty,
                 median(net) AS median_net,
                 median(CASE WHEN l_returnflag = 'R' THEN net END) AS median_net_r
          FROM li WHERE l_suppkey IN (SELECT l_suppkey FROM active)
          GROUP BY 1),
        last_year AS (
          SELECT l_suppkey,
                 CAST(COUNT(*) AS BIGINT) AS qtd_runs_1y,
                 CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS qtd_returns_1y,
                 AVG(l_quantity) AS avg_qty_1y,
                 AVG(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS avg_qty_r_1y,
                 AVG(net - l_quantity) AS avg_margin_1y,
                 median(l_quantity) AS median_qty_1y,
                 median(net) AS median_net_1y,
                 median(CASE WHEN l_returnflag = 'R' THEN net END) AS median_net_r_1y
          FROM li
          WHERE dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE)
            AND l_suppkey IN (SELECT l_suppkey FROM active)
          GROUP BY 1),
        cur AS (
          SELECT l_suppkey,
                 CAST(COUNT(*) AS BIGINT) AS qtd_runs_cur,
                 SUM(net) AS total_net_cur,
                 AVG(l_quantity) AS avg_qty_cur,
                 median(net) AS median_net_cur
          FROM li
          WHERE year(dt_event) >= year(DATE '$date')
            AND l_suppkey IN (SELECT l_suppkey FROM active)
          GROUP BY 1),
        daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(COUNT(*) AS BIGINT) AS n_orders_ref
          FROM orders GROUP BY 1)
        SELECT t1.*, t2.qtd_runs_1y, t2.qtd_returns_1y, t2.avg_qty_1y,
               t2.avg_qty_r_1y, t2.avg_margin_1y, t2.median_qty_1y,
               t2.median_net_1y, t2.median_net_r_1y,
               t3.qtd_runs_cur, t3.total_net_cur, t3.avg_qty_cur,
               t3.median_net_cur, t4.n_orders_ref
        FROM life t1
        LEFT JOIN last_year t2 ON t1.l_suppkey = t2.l_suppkey
        LEFT JOIN cur t3 ON t1.l_suppkey = t3.l_suppkey
        LEFT JOIN daily t4 ON CAST(t1.dt_ref AS DATE) = t4.d
        ORDER BY t1.l_suppkey"""

  /** Single-pass variant: the three window batteries as CONDITIONAL
    * aggregates in ONE groupBy — 1 shuffle instead of 3 shuffles + 2
    * joins. This is the 100 TB shape (the per-window scan/shuffle of the
    * reference's CTE structure is the dominant cost at scale); semantics
    * differ from the join form only where a key has no rows in a window
    * (COUNT 0 vs NULL — both forms have their own oracle). */
  def supplierFeaturesSinglePass(s: SparkSession, dir: String,
                                 date: String): DataFrame =
    singlePassCore(s, dir, date).orderBy("l_suppkey")

  /** [[supplierFeaturesSinglePass]] without the presentation sort — the
    * backfill write path uses this (a global range-shuffle before a
    * partitioned write is pure waste; the gate's read-back applies its
    * own deterministic sort). */
  private def singlePassCore(s: SparkSession, dir: String,
                             date: String): DataFrame = {
    val refD = to_date(lit(date))
    val yearAgo = (refD - expr("INTERVAL 1 YEAR")).cast("date")
    val li = t(s, dir, "lineitem").select(
      col("l_suppkey"), col("l_returnflag"), col("l_quantity"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"),
      to_date(col("l_shipdate")).as("dt_event"))
      .filter(col("dt_event") <= refD)
    val in1y = col("dt_event") >= yearAgo
    val inCur = year(col("dt_event")) >= year(refD)
    val isR = col("l_returnflag") === "R"
    li.groupBy("l_suppkey").agg(
      max(lit(date)).as("dt_ref"),
      year(refD).as("dt_year"),
      // lifetime battery
      count(lit(1)).as("qtd_runs"),
      sum(when(isR, 1).otherwise(0)).as("qtd_returns"),
      avg(col("l_quantity")).as("avg_qty"),
      avg(when(isR, col("l_quantity"))).as("avg_qty_r"),
      Agg.median(s, col("l_quantity")).as("median_qty"),
      // trailing-year battery, conditionalized
      sum(when(in1y, 1).otherwise(0)).as("qtd_runs_1y"),
      avg(when(in1y, col("l_quantity"))).as("avg_qty_1y"),
      Agg.median(s, when(in1y, col("l_quantity"))).as("median_qty_1y"),
      // current-season battery, conditionalized
      sum(when(inCur, 1).otherwise(0)).as("qtd_runs_cur"),
      sum(when(inCur, col("net"))).as("total_net_cur"),
      avg(when(inCur, col("l_quantity"))).as("avg_qty_cur"),
      Agg.median(s, when(inCur, col("net"))).as("median_net_cur"))
      // active-in-trailing-year restriction without the semi-join
      .filter(col("qtd_runs_1y") > 0)
  }

  /** Backfill dates for the i1 incremental-store query (spanning a year
    * boundary so two dt_year partitions are exercised). */
  val backfillDates: Seq[String] = Seq("1998-09-30", "1998-12-31", "1999-06-30")

  /** Root of an i-family backfill store, keyed by its source table's
    * fingerprint. Each call builds a fresh version under it
    * ([[graft.core.StoreFs.buildVersion]]), so a frame returned by one
    * call keeps reading its own version after the next call. */
  private def backfillRoot(s: SparkSession, dir: String, tag: String,
                           table: String): String =
    graft.core.StoreFs.root(s, s"$tag-store-" +
      graft.core.Tables.sourceFingerprint(s"$dir/$table.parquet"))

  /** i1: the INCREMENTAL STORE inside the correctness gate — a 3-date
    * backfill through etl.Ingestor + Sinks.replaceSlices (the Delta
    * replaceWhere emulation, SURVEY §7.3's hardest parity item) into a
    * temp store; the first date is then RE-RUN (idempotency under
    * late-data reprocessing) and the final store must equal the union of
    * the per-date oracles. */
  def backfillStore(s: SparkSession, dir: String): DataFrame = {
    val (version, _) = graft.core.StoreFs.buildVersion(s,
        backfillRoot(s, dir, "i1", "lineitem")) { v =>
      val ing = new graft.etl.Ingestor(s, s"$v/fs")
      def build(d: String): DataFrame = singlePassCore(s, dir, d)
      // pipelined loop (r20, guide §2.6): date i+1's battery computes
      // while date i's slice writes; write order and the per-date
      // output contract are identical to execRange
      ing.execRangePipelined(build, backfillDates)
      ing.execDate(build, backfillDates.head) // idempotent re-run
    }
    s.read.parquet(s"$version/fs")
      .select("l_suppkey", "dt_ref", "dt_year", "qtd_runs", "qtd_returns",
        "avg_qty", "median_qty", "qtd_runs_1y", "avg_qty_1y",
        "qtd_runs_cur", "total_net_cur", "median_net_cur")
      .orderBy("dt_ref", "l_suppkey")
  }

  /** i2: the SAME 3-date backfill as i1 through the BATCHED path —
    * Ingestor.execBatched unions the date slices into ONE
    * Sinks.replaceSlices write job (vs i1's 3 sequential jobs + re-run),
    * then the batch is re-run once to exercise idempotent replacement on
    * an existing store. Identical union-of-slices oracle to i1 — the
    * output contract is unchanged; only the job structure is (the 100 TB
    * batching lever: scan amortization across slices, one partition swap
    * per batch). */
  def backfillStoreBatched(s: SparkSession, dir: String): DataFrame = {
    val (version, _) = graft.core.StoreFs.buildVersion(s,
        backfillRoot(s, dir, "i2", "lineitem")) { v =>
      val ing = new graft.etl.Ingestor(s, s"$v/fs")
      // Materialize the slice union ONCE: the idempotent re-run must
      // prove the SINK path replays cleanly, not re-pay three percentile
      // batteries — at scale the batch source would be a staged table.
      val slices = backfillDates.map(d => singlePassCore(s, dir, d))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def build(d: String): DataFrame = slices.filter(col("dt_ref") === d)
        ing.execBatched(build, backfillDates) // one write job, 3 slices
        ing.execBatched(build, backfillDates) // idempotent batched re-run
      } finally slices.unpersist(false)
    }
    s.read.parquet(s"$version/fs")
      .select("l_suppkey", "dt_ref", "dt_year", "qtd_runs", "qtd_returns",
        "avg_qty", "median_qty", "qtd_runs_1y", "avg_qty_1y",
        "qtd_runs_cur", "total_net_cur", "median_net_cur")
      .orderBy("dt_ref", "l_suppkey")
  }

  /** i3: the SAME backfill as a STRUCTURED STREAM — the three date
    * slices staged to a stream source dir, consumed with
    * Trigger.AvailableNow through Streams.ingestAvailableNow
    * (foreachBatch → Sinks.replaceSlices), read back from the store.
    * Identical oracle to i1/i2: the sink contract is shared by all three
    * ingestion modes (per-date loop, batched job, stream), which is the
    * point — a replayed micro-batch rewrites the same slices
    * idempotently. */
  def backfillStoreStreaming(s: SparkSession, dir: String): DataFrame = {
    val (version, _) = graft.core.StoreFs.buildVersion(s,
        backfillRoot(s, dir, "i3", "lineitem")) { v =>
      val (src, ckpt) = (s"$v/src", s"$v/ckpt")
      backfillDates.map(d => singlePassCore(s, dir, d))
        .reduce(_ unionByName _)
        .coalesce(1).write.parquet(src) // one staged file → one micro-batch
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      graft.streaming.Streams.ingestAvailableNow(stream, s"$v/fs", ckpt,
        sliceCol = "dt_ref", partCol = "dt_year")
    }
    s.read.parquet(s"$version/fs")
      .select("l_suppkey", "dt_ref", "dt_year", "qtd_runs", "qtd_returns",
        "avg_qty", "median_qty", "qtd_runs_1y", "avg_qty_1y",
        "qtd_runs_cur", "total_net_cur", "median_net_cur")
      .orderBy("dt_ref", "l_suppkey")
  }

  /** i4: keyed MERGE/upsert inside the oracle gate — orders staged as a
    * year-partitioned base store, then one CDC-style batch applied via
    * Sinks.upsert: for every o_orderkey % 1000 == 0 the batch carries a
    * STALE update (seq 1, price+1) and a WINNING one (seq 2, price×2 —
    * the de-batch keep-last rule must pick it), plus inserts with fresh
    * keys (o_orderkey + the derived keyspace offset, 10M at the
    * committed scales) for every o_orderkey % 1500 == 0. The batch
    * is applied TWICE (idempotent re-run), the store read back in full.
    * Oracle reconstructs the merge declaratively: NOT-IN keep set UNION
    * winners UNION inserts. */
  def upsertStore(s: SparkSession, dir: String): DataFrame = {
    val (version, _) = graft.core.StoreFs.buildVersion(s,
        backfillRoot(s, dir, "i4", "orders")) { v =>
      val store = s"$v/orders"
      val base = graft.core.Tables.t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      graft.sources.Sinks.upsert(s, base.withColumn("__seq", lit(0L)), store,
        Seq("o_orderkey"), "__seq", "o_year")
      // The insert branch shifts keys to guarantee freshness. A FIXED
      // +10M shift collides once the keyspace reaches 10M (the round-19
      // sf10 sweep hit exactly that fail-fast), so the offset is now
      // DERIVED: the smallest power of 10 strictly above max(o_orderkey),
      // floored at the historical 10M so every committed scale keeps its
      // byte-identical output. Derived from the DECIMAL DIGIT COUNT, not
      // floating log10 (round-19 ADVICE): Math.log10 is exact at powers
      // of 10 on the JVM but DuckDB's LOG10 is libm-dependent, so at
      // maxKey+1 = 10^k the two CEILs could disagree by 1 and shift one
      // side's insert keys 10×. 10^len(maxKey) is integer-exact in both
      // engines (oracle: POWER(10, LENGTH(CAST(... AS VARCHAR)))) and
      // equals the old rule everywhere: smallest power of 10 > maxKey.
      val maxKey =
        base.agg(max(col("o_orderkey"))).head.getAs[Number](0).longValue
      val offset = math.max(10000000L,
        BigInt(10).pow(maxKey.toString.length).toLong)
      require(offset > maxKey,
        s"i4 insert offset $offset would collide: max(o_orderkey)=$maxKey")
      val hit = base.filter(col("o_orderkey") % 1000 === 0)
      val updates = hit
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("__seq", lit(1L))
        .unionByName(hit
          .withColumn("o_totalprice", col("o_totalprice") * 2.0)
          .withColumn("__seq", lit(2L)))
        .unionByName(base.filter(col("o_orderkey") % 1500 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(offset))
          .withColumn("__seq", lit(1L)))
      graft.sources.Sinks.upsert(s, updates, store,
        Seq("o_orderkey"), "__seq", "o_year")
      graft.sources.Sinks.upsert(s, updates, store, // idempotent re-run
        Seq("o_orderkey"), "__seq", "o_year")
    }
    s.read.parquet(s"$version/orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
        col("o_year"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fs_point_in_time" -> ((s, dir) => supplierFeatures(s, dir, refDate)),
    "fs_single_pass" -> ((s, dir) => supplierFeaturesSinglePass(s, dir, refDate)),
    "i1_backfill" -> backfillStore,
    "i2_backfill_batched" -> backfillStoreBatched,
    "i3_backfill_stream" -> backfillStoreStreaming,
    "i4_upsert" -> upsertStore,
  )

  private def singlePassOracle(date: String): String =
    s"""WITH li AS (
          SELECT l_suppkey, l_returnflag, l_quantity,
                 l_extendedprice * (1 - l_discount) AS net,
                 CAST(l_shipdate AS DATE) AS dt_event
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) <= DATE '$date')
        SELECT l_suppkey, MAX('$date') AS dt_ref,
          CAST(year(DATE '$date') AS INT) AS dt_year,
          CAST(COUNT(*) AS BIGINT) AS qtd_runs,
          CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS qtd_returns,
          AVG(l_quantity) AS avg_qty,
          AVG(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS avg_qty_r,
          median(l_quantity) AS median_qty,
          CAST(SUM(CASE WHEN dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE) THEN 1 ELSE 0 END) AS BIGINT) AS qtd_runs_1y,
          AVG(CASE WHEN dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE) THEN l_quantity END) AS avg_qty_1y,
          median(CASE WHEN dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE) THEN l_quantity END) AS median_qty_1y,
          CAST(SUM(CASE WHEN year(dt_event) >= year(DATE '$date') THEN 1 ELSE 0 END) AS BIGINT) AS qtd_runs_cur,
          SUM(CASE WHEN year(dt_event) >= year(DATE '$date') THEN net END) AS total_net_cur,
          AVG(CASE WHEN year(dt_event) >= year(DATE '$date') THEN l_quantity END) AS avg_qty_cur,
          median(CASE WHEN year(dt_event) >= year(DATE '$date') THEN net END) AS median_net_cur
        FROM li GROUP BY 1
        HAVING CAST(SUM(CASE WHEN dt_event >= CAST(DATE '$date' - INTERVAL 1 YEAR AS DATE) THEN 1 ELSE 0 END) AS BIGINT) > 0
        ORDER BY 1"""

  private def backfillOracle: String = {
    val branches = backfillDates.map { d =>
      s"""SELECT l_suppkey, dt_ref, dt_year, qtd_runs, qtd_returns,
          avg_qty, median_qty, qtd_runs_1y, avg_qty_1y,
          qtd_runs_cur, total_net_cur, median_net_cur
          FROM (${singlePassOracle(d)})"""
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY dt_ref, l_suppkey")
  }

  private val upsertOracle: String =
    """WITH ofs AS (
         SELECT GREATEST(10000000, CAST(POWER(10,
           LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT)) AS off
         FROM orders),
       winners AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 2.0 AS o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 1000 = 0),
       inserts AS (
         SELECT o_orderkey + (SELECT off FROM ofs) AS o_orderkey, o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 1500 = 0),
       upd AS (SELECT * FROM winners UNION ALL SELECT * FROM inserts),
       kept AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
       merged AS (SELECT * FROM kept UNION ALL SELECT * FROM upd)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority,
         CAST(year(o_orderdate) AS INT) AS o_year
       FROM merged ORDER BY o_orderkey"""

  val oracle: Map[String, String] = Map(
    "fs_point_in_time" -> oracleFor(refDate),
    "fs_single_pass" -> singlePassOracle(refDate),
    "i1_backfill" -> backfillOracle,
    "i2_backfill_batched" -> backfillOracle,
    "i3_backfill_stream" -> backfillOracle,
    "i4_upsert" -> upsertOracle,
  )
}
