package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession with the
  * same semantics as Verify/Bench (graft.Sessions). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // keep test parallelism modest; suites run in one JVM
    if (sys.env.get("SPARK_GRAFT_CPUS").isEmpty)
      System.setProperty("SPARK_GRAFT_CPUS_TEST", "8")
    Sessions.local("graft-test")
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Run `body` with a session conf temporarily overridden, restoring
    * the previous value (or unsetting) after — suites share ONE
    * session, so a leaked conf would bleed into later tests. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` on the interpreted expression path: no whole-stage
    * codegen and no generated projections, so every expression is
    * evaluated through its `eval`/`nullSafeEval` (restored after). */
  def withoutCodegen[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(body)
    }

  /** Run `body` on generated code only: a projection or stage whose
    * generated code fails to compile throws instead of silently falling
    * back to the interpreted path, and a projection over a local Seq is
    * no longer folded at optimization time (ConvertToLocalRelation
    * evaluates it through `eval`), so it runs generated code too. */
  def codegenOnly[T](body: => T): T = {
    val rules = "spark.sql.optimizer.excludedRules"
    val local = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConf("spark.sql.codegen.fallback", "false") {
      withConf("spark.sql.codegen.factoryMode", "CODEGEN_ONLY") {
        withConf(rules,
          spark.conf.getOption(rules).fold(local)(r => s"$r,$local"))(body)
      }
    }
  }

  /** Rows the scan leaves actually SURFACED for `df` (after Parquet
    * row-group/partition skipping, before any later filter): the
    * summed numOutputRows metric of the executed plan's leaves. The
    * layout specs (LayoutSpec, RunnerSpec, CorpusPipelineSpec) share
    * this one definition so they all measure the same thing. */
  def rowsRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.queryExecution.executedPlan.resetMetrics()
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
  }
}
