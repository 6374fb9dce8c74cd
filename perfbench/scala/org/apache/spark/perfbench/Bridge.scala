package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.{QueryExecutionMetering, RuleExecutor}

/** Access to the listener bus, which Spark keeps package-private. */
object Bridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Time spent in the analyzer's rules, read from Catalyst's JVM-wide rule
  * metering. Analysis runs eagerly each time a query function builds a
  * Dataset, so no single Dataset's planning tracker sees it; the meter
  * does. Rules that the optimizer runs as well are left out, so optimizer
  * time is not counted as analysis. `checkAnalysis` is not a rule and is
  * not included. */
final class AnalyzerClock(spark: SparkSession) {
  private val rules: Set[String] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val optimizer = state.optimizer.batches.flatMap(_.rules.map(_.ruleName)).toSet
    state.analyzer.batches.flatMap(_.rules.map(_.ruleName)).toSet -- optimizer
  }

  private val timeMap: java.util.Map[String, java.lang.Long] = {
    // the meter and its map are not public; both are read once
    val meter = RuleExecutor.getClass.getMethod("queryExecutionMeter").invoke(RuleExecutor)
    val f = classOf[QueryExecutionMetering].getDeclaredField("timeMap")
    f.setAccessible(true)
    val m = f.get(meter)
    m.getClass.getMethod("asMap").invoke(m).asInstanceOf[java.util.Map[String, java.lang.Long]]
  }

  /** Nanoseconds the analyzer's rules have run in this JVM so far. */
  def ns: Long = timeMap.asScala.iterator.collect { case (k, v) if rules(k) => v.longValue }.sum
}
