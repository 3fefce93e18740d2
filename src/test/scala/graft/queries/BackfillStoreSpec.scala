package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The i-family backfill stores build a fresh version per call, so a
  * LAZY frame returned by one call still reads its own store after the
  * next call of the same query (a wipe-at-entry root failed it with
  * FILE_NOT_EXIST). Expected rows come from the query's oracle SQL,
  * evaluated by Spark over the same tables. */
class BackfillStoreSpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  /** check_oracle.py's canonical form: columns by name, numbers to 6
    * significant figures, rows sorted. */
  private def canon(df: DataFrame): Seq[String] = {
    val mc = new java.math.MathContext(6)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case null => "NULL"
        case n: java.lang.Number =>
          BigDecimal(n.toString).round(mc).bigDecimal.stripTrailingZeros
            .toPlainString
        case x => x.toString
      }.mkString("|"))
      .sorted.toSeq
  }

  /** The oracle SQL in Spark's dialect: the only DuckDB-ism these four
    * use is an unsized VARCHAR cast. */
  private def oracleRows(name: String): Seq[String] = {
    Seq("lineitem", "orders").foreach(tb =>
      spark.read.parquet(s"$dir/$tb.parquet").createOrReplaceTempView(tb))
    canon(spark.sql(
      graft.SparkEntry.oracleSql(name).replace("AS VARCHAR)", "AS STRING)")))
  }

  Seq("i1_backfill", "i2_backfill_batched", "i3_backfill_stream",
      "i4_upsert").foreach { name =>
    test(s"$name: a frame from one call, collected after the next call, " +
      "returns its oracle rows") {
      assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
        s"$dir not in cwd")
      val q = graft.SparkEntry.queries(name)
      val held = q(spark, dir)
      q(spark, dir)
      val got = canon(held)
      assert(got.nonEmpty)
      assert(got === oracleRows(name))
    }
  }
}
