package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.serving.AdsStore

/** `AdsStore`'s in-process handoff: a version this JVM published is read
  * back from the rows `publish` collected, equal to its parquet, with no
  * Spark job; the prune bounds what is kept; any other root reads the
  * parquet. The store protocol itself (claims, tmp+rename, prune) is
  * `AdsStoreSpec`'s and `ServingSpec`'s. */
class AdsHandoffSpec extends AnyFunSuite {
  import TestSession._

  /** Every kind of column an ADS frame carries, non-nullable and nested
    * ones included, with nulls where the type allows them. */
  private def frame(tag: String) = {
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("amt", DecimalType(18, 2)),
      StructField("x", DoubleType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("m", MapType(StringType, IntegerType, valueContainsNull = false)),
      StructField("s", StructType(Seq(StructField("a", IntegerType, nullable = false))))))
    val rows = (0 until 12).map { i =>
      Row(s"$tag-$i", i.toLong, if (i % 4 == 0) null else BigDecimal(i) / 8,
        if (i % 5 == 0) null else i * 0.25, java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"),
        if (i % 3 == 0) null else java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d.125"),
        Seq.tabulate(i % 3)(j => s"t$j"), if (i % 2 == 0) null else Map("m" -> i),
        if (i % 6 == 0) null else Row(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumn("n", col("n") + 0) // a computed, non-nullable column
  }

  /** How many Spark jobs `body` runs on this thread. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"handoff-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "in-process read")
      body
      // listener events arrive in posting order: once the fence job's
      // start is seen, every job `body` ran has been seen too
      sc.setJobGroup(fence, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never reported")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("an in-process readVersion equals the parquet read of the same version") {
    val root = Files.createTempDirectory("handoff_eq").toString + "/store"
    val v = AdsStore.publish(frame("a"), root, 3)
    val dir = java.nio.file.Paths.get(root, s"v=$v")
    assert(Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).count() == 1,
      "the version is not one parquet file")
    val inProcess = AdsStore.readVersion(spark, root, v)
    val parquet = spark.read.parquet(dir.toString)
    assert(inProcess.inputFiles.isEmpty, "a version this JVM published was read from its files")
    assert(inProcess.schema == parquet.schema,
      s"schema ${inProcess.schema.treeString} != parquet ${parquet.schema.treeString}")
    assert(inProcess.collect().toSeq == parquet.collect().toSeq)
    assert(inProcess.collect().toSeq == frame("a").collect().toSeq)
  }

  test("an in-process read and collect run no Spark job; the same root by another spelling is in-process too") {
    val root = Files.createTempDirectory("handoff_nojob").toString + "/store"
    AdsStore.publish(frame("b"), root, 0)
    var rows = Array.empty[Row]
    val jobs = jobsRunBy {
      rows = AdsStore.read(spark, root).get._2.limit(10000).collect()
      AdsStore.read(spark, "file://" + root).get._2.collect()
    }
    assert(rows.length == 12)
    assert(jobs == 0, s"in-process read ran $jobs Spark jobs")
  }

  test("pruned versions leave the registry; at most keep versions per root stay in process") {
    val root = Files.createTempDirectory("handoff_prune").toString + "/store"
    (0 until 5).foreach(i => AdsStore.publish(frame(s"p$i"), root, i, keep = 2))
    assert(AdsStore.versions(spark, root) == Seq(3L, 4L))
    assert(AdsStore.inProcessVersions(spark, root) == Seq(3L, 4L))
    assert(AdsStore.readVersion(spark, root, 4).select("k").head().getString(0) == "p4-0")
  }

  test("a root this JVM did not publish reads the parquet") {
    val root = Files.createTempDirectory("handoff_foreign").toString + "/store"
    // another process's commit: a `_SUCCESS`-marked v=<n> directory
    frame("f").write.parquet(s"$root/v=7")
    val (v, df) = AdsStore.read(spark, root).get
    assert(v == 7 && AdsStore.inProcessVersions(spark, root).isEmpty)
    assert(df.inputFiles.nonEmpty, "a foreign root was not read from its files")
    assert(jobsRunBy(df.collect()) > 0, "a parquet scan ran no job: the job count sees nothing")
    assert(df.collect().map(_.toString).sorted.toSeq ==
      frame("f").collect().map(_.toString).sorted.toSeq)
  }
}
