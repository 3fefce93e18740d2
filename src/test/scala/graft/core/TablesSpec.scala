package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.SparkSpec

/** The schema memo behind [[Tables.t]]: a warm read plans without
  * Spark's inference job, yet serves exactly the schema (and rows) a
  * fresh `spark.read.parquet` gives — across in-place regeneration and
  * across sessions whose inference confs differ. */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. A sentinel job closes the
    * window: the listener bus delivers events in order, so once the
    * sentinel's start arrives every earlier start has arrived too. */
  private def jobsDuring(body: => Unit): Int = {
    val sentinel = s"tables-spec-sentinel-${System.nanoTime}"
    val starts = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var closed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).contains(sentinel))
          closed = true
        else if (!closed) starts.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!closed && System.nanoTime < deadline) Thread.sleep(10)
      assert(closed, "sentinel job never reached the listener")
      starts.get
    } finally sc.removeSparkListener(listener)
  }

  private def rewrite(dir: String, name: String)(write: String => Unit): Unit = {
    write(s"$dir/$name.parquet")
    // mtime granularity can swallow fast successive writes — force it
    new java.io.File(s"$dir/$name.parquet").listFiles().foreach { f =>
      f.setLastModified(f.lastModified() + 2000)
    }
  }

  test("a warm read and its schema launch no Spark job") {
    import spark.implicits._
    val dir = tmpDir("tables-warm")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/kv.parquet")
    // the cold read infers: the listener does see that job
    assert(jobsDuring(Tables.t(spark, dir, "kv").schema) >= 1)
    assert(jobsDuring(Tables.t(spark, dir, "kv").schema) === 0)
    assert(Tables.t(spark, dir, "kv").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
  }

  test("a table rewritten in place re-infers and evicts the stale entry") {
    import spark.implicits._
    val dir = tmpDir("tables-regen")
    val path = s"$dir/regen.parquet"
    rewrite(dir, "regen")(Seq((1, 2L)).toDF("a", "b").write.parquet(_))
    assert(Tables.t(spark, dir, "regen").columns.toSeq === Seq("a", "b"))
    assert(Tables.memoized(path) === 1)

    rewrite(dir, "regen")(Seq(("x", 1.5, true)).toDF("c", "d", "e")
      .write.mode("overwrite").parquet(_))
    val df = Tables.t(spark, dir, "regen")
    assert(df.columns.toSeq === Seq("c", "d", "e"))
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.as[(String, Double, Boolean)].collect().toSeq ===
      Seq(("x", 1.5, true)))
    assert(Tables.memoized(path) === 1) // the first generation is gone
  }

  test("sessions that infer differently get their own schema") {
    import spark.implicits._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = tmpDir("tables-binary")
    // an un-annotated binary column and no Spark schema in the footer
    // (a Spark-written file pins its own types): only the conf decides
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { optional binary b; }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("b", org.apache.parquet.io.api.Binary.fromString("hi")))
    finally writer.close()
    val asString: SparkSession =
      org.apache.spark.sql.graftshim.isolatedSession(spark)
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    def typeIn(s: SparkSession) = Tables.t(s, dir, "bin").schema("b").dataType

    assert(typeIn(spark) === BinaryType)
    assert(typeIn(asString) === StringType)
    assert(typeIn(spark) === BinaryType) // neither entry displaced the other
    assert(Tables.t(asString, dir, "bin").as[String].collect().toSeq ===
      Seq("hi"))
  }

  test("every source table reads the schema and rows of a plain read") {
    val dir = new java.io.File("perfbench/data/sf0.001").getAbsolutePath
    assume(new java.io.File(dir).isDirectory, "perfbench data not in cwd")
    Tables.names.foreach { name =>
      val plain = spark.read.parquet(s"$dir/$name.parquet")
      Seq(1, 2).foreach { _ => // cold, then from the memo
        val memo = Tables.t(spark, dir, name)
        assert(memo.schema === plain.schema, name)
        assert(memo.collect().toSeq === plain.collect().toSeq, name)
      }
    }
  }
}
