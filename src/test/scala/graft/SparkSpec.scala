package graft

import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Pipeline

/** Shared local session for specs: one per suite (lazy), UTC, small
  * shuffle fan-out. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `f` with SQL confs set, restoring prior values afterwards. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Number of Spark jobs `f` launches. */
  def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Every committed checkpoint under `root` has Spark's row schema in its
    * footer, and [[Pipeline.read]] returns exactly the schema that
    * inference gives, nullability and field metadata included. Returns
    * the checkpoint names checked. */
  def assertCheckpointSchemas(root: String): Seq[String] = {
    val dirs = new java.io.File(root).listFiles()
      .filter(d => new java.io.File(d, "_SUCCESS").exists()).map(_.getPath).sorted.toSeq
    dirs.foreach { d =>
      assert(Pipeline.footerSchema(spark, d).isDefined, s"no row metadata in $d")
      assert(Pipeline.read(spark, d).schema === spark.read.parquet(d).schema, d)
    }
    dirs.map(d => new java.io.File(d).getName)
  }
}
