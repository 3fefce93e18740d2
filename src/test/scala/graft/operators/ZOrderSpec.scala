package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.EventTime

/** Z-order layout: static two-dimensional cell pruning visible in the
  * plan, residual exactness (layout invisible to results), and the
  * one-file-per-cell write discipline. */
class ZOrderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("z1: pruned rectangle scan ≡ raw-events rectangle aggregate") {
    val z = ZOrder.queries("z1_zorder_prune")(spark, dir)
    // independent recompute straight off the raw table (no layout, no
    // cells): the layout must be invisible to results
    val ev = graft.core.Tables.t(spark, dir, "events")
    val dims = ev.withColumn("__us", EventTime.tsMicros(ev))
      .withColumn("day", expr("__us div 86400000000"))
    val b = dims.agg(min("user_id"), max("user_id"),
      min("day"), max("day")).collect()(0)
    val (minU, maxU, minD, maxD) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (ulo, uhi) = (minU + (maxU - minU + 1) / 4, minU + (maxU - minU + 1) / 2)
    val (dlo, dhi) = (minD + (maxD - minD + 1) / 4, minD + (maxD - minD + 1) / 2)
    val raw = dims
      .filter(col("user_id").between(ulo, uhi) && col("day").between(dlo, dhi))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .orderBy("user_id")
    assert(z.collect().toSeq === raw.collect().toSeq)
    assert(z.count() > 0, "rectangle must select rows at sf0.001")
  }

  test("z1: plan prunes statically on zcell and pushes the residual") {
    val z = ZOrder.queries("z1_zorder_prune")(spark, dir)
    val plan = z.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // static partition pruning on the Morton cell list
    assert(plan.matches("(?s).*PartitionFilters:[^\\n]*zcell[^\\n]*IN[^\\n]*.*"),
      s"zcell IN (...) must land in PartitionFilters:\n$plan")
    // the exact residual reaches the parquet scan of surviving cells
    assert(plan.matches("(?s).*PushedFilters:[^\\n]*user_id[^\\n]*.*"),
      s"user_id residual must be pushed to the scan:\n$plan")
  }

  test("z1: layout prunes a strict majority of cells; write is one file per cell") {
    // replay the enumeration: the quarter-to-half rectangle at 3 bits
    // must keep a strict minority of the 64 cells
    // query construction builds the store eagerly (bounds + layout
    // writes happen inside z1), so the unexecuted plan is inspectable —
    // post-execution AQE re-rendering would bury the scan details
    val z = ZOrder.queries("z1_zorder_prune")(spark, dir)
    val plan = z.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // >10 values renders as INSET, fewer as IN (...)
    val inList = "zcell[^\\n]*?(?:INSET ([^\\]\\n]*)|IN \\(([^)]*)\\))".r
      .findFirstMatchIn(plan)
      .map(m => Option(m.group(1)).getOrElse(m.group(2))).getOrElse(
        fail(s"no zcell IN/INSET list in plan:\n$plan"))
    val kept = inList.split(",").length
    assert(kept < ZOrder.zCells / 2,
      s"expected a strict minority of ${ZOrder.zCells} cells, got $kept")
    // one file per cell dir (the writeStore discipline): find the store
    // via the scan's Location and count data files per zcell=* dir
    val loc = "Location:[^\\n]*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val dataRoot = new java.io.File(
      loc.stripPrefix("file:").split(",").head)
    val cellDirs = Option(dataRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("zcell="))
    assert(cellDirs.nonEmpty, s"no zcell dirs under $dataRoot")
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: expected exactly 1 file, got ${files.length}")
    }
  }

  test("z2: range-predicate serving ≡ z1's INSET serving; ranges land " +
    "in PartitionFilters") {
    val z2 = ZOrder.queries("z2_zorder_ranges")(spark, dir)
    val z1 = ZOrder.queries("z1_zorder_prune")(spark, dir)
    // the predicate FORM is the only variable — results identical
    assert(z2.collect().toSeq === z1.collect().toSeq)
    val plan = z2.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the OR'd BETWEEN ranges must still prune statically on the
    // partition column (range predicates resolve against partition
    // values), and the exact residual must still reach the scan
    assert(plan.matches(
      "(?s).*PartitionFilters:[^\\n]*zcell[^\\n]*>=[^\\n]*.*"),
      s"zcell range bounds must land in PartitionFilters:\n$plan")
    assert(!plan.matches("(?s).*PartitionFilters:[^\\n]*INSET[^\\n]*.*"),
      s"z2 must prune via ranges, not an expanded INSET:\n$plan")
    assert(plan.matches("(?s).*PushedFilters:[^\\n]*user_id[^\\n]*.*"),
      s"user_id residual must be pushed to the scan:\n$plan")
  }

  // ---- z3 incremental fold (round-18 verdict item 5) ----

  test("z3: ticked-and-folded serving ≡ z1 (the whole lifecycle " +
    "invisible to results)") {
    val z3 = ZOrder.queries("z3_zorder_tick")(spark, dir)
    val z1 = ZOrder.queries("z1_zorder_prune")(spark, dir)
    assert(z3.collect().toSeq === z1.collect().toSeq)
  }

  /** Planted dimensioned frame: (event_id, user_id, day, value). */
  private def planted(rows: Seq[(Long, Long, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "day", "value")
  }

  private def batchDirs(store: String): Seq[String] =
    Option(new java.io.File(localPath(s"$store/data")).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq

  test("z3 planted in-bounds tick: delta lands as batch=1 under the " +
    "persisted bounds; fold ≡ rebuild under those bounds") {
    // base spans user [0,7] × day [100,107]; arrivals INSIDE both spans
    val base = planted(Seq(
      (1L, 0L, 100L, 1.0), (2L, 7L, 107L, 2.0), (3L, 3L, 104L, 3.0)))
    val arrivals = planted(Seq(
      (4L, 1L, 101L, 4.0), (5L, 6L, 106L, 5.0)))
    var stages = Vector.empty[(String, String)]
    val store = ZOrder.z3TickFold(spark, dir, "z3spec-in", base, arrivals,
      (st, path) => {
        stages :+= ((st, path))
        st match {
          case "build" => assert(batchDirs(path) === Seq("batch=-1"))
          case "tick" =>
            assert(batchDirs(path) === Seq("batch=1"),
              "tick must land as a batch=1 delta in the fold's build")
          case "fold" => assert(batchDirs(path) === Seq("batch=-1"),
            "fold must rewrite deltas into the single base layout")
          case other => fail(s"unexpected stage $other")
        }
      })
    assert(stages.map(_._1) === Vector("build", "tick", "fold"),
      "in-bounds arrivals must take the tick path, not the escape")
    // the tick and the fold commit as a NEW version: the published
    // build is only read, and the tick's scratch is gone
    val built = stages(0)._2
    assert(store === stages(2)._2)
    assert(store !== built,
      "the fold must publish a new version, not mutate the built one")
    assert(batchDirs(built) === Seq("batch=-1"), "the built version changed")
    assert(!new java.io.File(localPath(stages(1)._2)).exists(),
      "the tick's scratch dir survived the fold")
    // fold ≡ rebuild: store content equals re-quantization of
    // base ∪ arrivals under the PERSISTED (base-derived) bounds
    val b = spark.read.parquet(s"$store/bounds").collect()(0)
    val expected = ZOrder.zedUnder(base.unionByName(arrivals),
        b.getAs[Long]("min_u"), b.getAs[Long]("max_u"),
        b.getAs[Long]("min_d"), b.getAs[Long]("max_d"))
      .select("event_id", "zcell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.parquet(s"$store/data")
      .select(col("event_id"), col("zcell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === expected, "folded store ≠ one-shot rebuild")
    // one file per touched cell dir after the fold (compaction held)
    new java.io.File(localPath(s"$store/data/batch=-1")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("zcell="))
      .foreach { d =>
        assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
          s"${d.getName}: fold must leave one file per cell")
      }
  }

  test("z3 planted out-of-bounds arrival: the escape re-quantizes into " +
    "a NEW published version with widened bounds") {
    val base = planted(Seq(
      (1L, 0L, 100L, 1.0), (2L, 7L, 107L, 2.0)))
    // arrival outside the writer's user span → cannot quantize
    val arrivals = planted(Seq((3L, 40L, 104L, 3.0)))
    var stages = Vector.empty[(String, String)]
    val store = ZOrder.z3TickFold(spark, dir, "z3spec-oob", base, arrivals,
      (st, path) => stages :+= ((st, path)))
    assert(stages.map(_._1) === Vector("build", "requantize"),
      "an out-of-bounds arrival must trigger the re-quantization escape")
    assert(stages(0)._2 !== store,
      "escape must publish a NEW version, not mutate the built one")
    val b = spark.read.parquet(s"$store/bounds").collect()(0)
    assert(b.getAs[Long]("max_u") === 40L, "bounds must widen to the arrival")
    // the re-quantized store holds base ∪ arrivals, all in one base batch
    assert(batchDirs(store) === Seq("batch=-1"))
    assert(spark.read.parquet(s"$store/data").count() === 3L)
  }

  test("z3 out-of-bounds escape twice: the first call's store stays " +
    "readable after the second call publishes") {
    val base = planted(Seq(
      (1L, 0L, 100L, 1.0), (2L, 7L, 107L, 2.0)))
    val arrivals = planted(Seq((3L, 40L, 104L, 3.0)))
    val first = ZOrder.z3TickFold(spark, dir, "z3spec-oob2", base, arrivals)
    val second = ZOrder.z3TickFold(spark, dir, "z3spec-oob2", base, arrivals)
    assert(first !== second, "each call publishes its own version")
    // a frame over the first call's store may still be reading when
    // the second call publishes: its version must be retained
    assert(spark.read.parquet(s"$first/data").count() === 3L)
    assert(spark.read.parquet(s"$first/bounds").collect()(0)
      .getAs[Long]("max_u") === 40L)
  }

  // ---- BIGMIN / z-range enumeration (round-17 verdict item 5) ----

  // derived from the committed geometry (round-18 review: a hardcoded
  // bound would silently shrink the tested rectangle space if zBits
  // moves — "exhaustive" must track the dial)
  private val gMax = (1L << ZOrder.zBits) - 1
  private def inRect(z: Int, r: (Long, Long, Long, Long)): Boolean = {
    val (cx, cy) = ZOrder.deinterleave(z)
    cx >= r._1 && cx <= r._2 && cy >= r._3 && cy <= r._4
  }
  private def allRects: Seq[(Long, Long, Long, Long)] =
    for {
      xLo <- 0L to gMax; xHi <- xLo to gMax
      yLo <- 0L to gMax; yHi <- yLo to gMax
    } yield (xLo, xHi, yLo, yHi)

  test("bigmin ≡ brute-force next-in-box successor, exhaustively") {
    // every rectangle of the 8x8 grid × every OUT-of-box z-address:
    // bigmin must return the smallest in-box address > z (or fail
    // closed at -1 via the run loop's guards — brute force: -1)
    allRects.foreach { r =>
      val zmin = ZOrder.zOf(r._1, r._3)
      val zmax = ZOrder.zOf(r._2, r._4)
      (0 until ZOrder.zCells).filterNot(inRect(_, r)).foreach { z =>
        val expected = ((z + 1) until ZOrder.zCells)
          .find(inRect(_, r)).map(_.toLong).getOrElse(-1L)
        val got = ZOrder.bigmin(z.toLong, zmin, zmax)
        assert(got === expected,
          s"bigmin($z) in rect $r: got $got, expected $expected")
      }
    }
  }

  test("bigmin refuses an in-box seek origin") {
    // seeks only launch from out-of-box addresses; an in-box origin is
    // a caller bug and must fail loudly, not return something plausible
    intercept[IllegalArgumentException] {
      ZOrder.bigmin(ZOrder.zOf(2, 2), ZOrder.zOf(1, 1), ZOrder.zOf(3, 3))
    }
  }

  test("zRangesFor ≡ enumerate-and-filter, exhaustively; ranges maximal") {
    allRects.foreach { r =>
      val ranges = ZOrder.zRangesFor(r._1, r._2, r._3, r._4)
      val expanded = ranges.flatMap { case (lo, hi) => lo to hi }
      val expected = (0 until ZOrder.zCells)
        .filter(inRect(_, r)).map(_.toLong)
      assert(expanded === expected,
        s"rect $r: ranges $ranges expand to $expanded, expected $expected")
      // maximality: sorted, disjoint, and never two adjacent runs (an
      // adjacent pair would mean a missed merge — the run-end seek
      // stopped early)
      ranges.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) =>
          assert(l2 > h1 + 1, s"rect $r: adjacent/overlapping runs")
        case _ => ()
      }
    }
  }
}
