package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.codegenReuse
    // the shipped generated-code reuse confs (the cache size is static:
    // the test JVM's first session fixes it for every suite)
    .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // mirror GraftSession's default (Events.readEventsParquet requires it)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with the session confs `kv` set, then restore each
    * prior value (or unset the key when it was not set before). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` and return its result with the local properties of every
    * Spark job it submitted (listener bus flushed before reading). */
  def jobsDuring[T](body: => T): (T, Seq[Properties]) = {
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new Properties()))
    }
    assert(GraftSqlBridge.flushListenerBus(spark, 10000))
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      assert(GraftSqlBridge.flushListenerBus(spark, 10000))
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` and return its result with the number of classes Janino
    * compiled meanwhile (Spark's JVM-wide counter: a generated-code cache
    * hit compiles nothing). Suites run one at a time in the test JVM. */
  def classesCompiledDuring[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
