package lifebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One output check: its name, whether it held, and what was seen. */
final case class Check(name: String, ok: Boolean, detail: String)

object Check {
  def eq(name: String, got: Any, want: Any): Check =
    Check(name, got == want, s"got $got, want $want")
}

/** State of one timed body: the recurring-unit latencies and, in a
  * traced run, the tracer. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  val units = mutable.ArrayBuffer.empty[Double]

  def traced: Boolean = tracer.isDefined

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def count(key: String, v: Double): Unit = tracer.foreach(_.count(key, v))

  /** A figure only a traced run needs, computed in its own span so the
    * extra Spark job is charged to tracing, not to a layer. */
  def measure(key: String)(v: => Double): Unit = if (traced) count(key, quiet(v))

  /** Work done for the trace only, in a span of its own. */
  def quiet[T](body: => T): T = span("trace.count")(body)

  def unit[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    units += (System.nanoTime() - t0) / 1e9
    r
  }
}

object Ctx {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Live heap after the body: full GCs until two readings agree within
    * 1 MB, because Spark's context cleaner frees unreferenced cached
    * blocks asynchronously after a GC and a single reading races it.
    * Runs outside the timed body: a pause inside it would hand the JIT
    * compiler threads free CPU and speed up what follows. */
  def liveHeapMb(): Double = {
    def usedAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = usedAfterGc()
    var used = prev
    var rounds = 0
    do {
      Thread.sleep(100)
      prev = used
      used = usedAfterGc()
      rounds += 1
    } while (rounds < 10 && math.abs(used - prev) > (1L << 20))
    used / 1048576.0
  }
}

/** A benchmark workload: seeded inputs, the reset that stages them, the
  * timed body (returns a result hash plus what the checks need), and
  * the output checks against the generator's ground truth. */
trait Workload {
  type In
  type Out
  def name: String
  def gen(spark: SparkSession, dir: Path, seed: Long): In
  def sizes(in: In): Map[String, Any]
  def reset(spark: SparkSession, in: In, work: Path): Unit = Files.createDirectories(work)
  def body(ctx: Ctx, in: In, work: Path): Out
  def hash(out: Out): Long
  def check(spark: SparkSession, in: In, work: Path, out: Out): Seq[Check]
  /** Per-layer figures read from the program's state after a traced body. */
  def estate(spark: SparkSession): Map[String, Double] = Map.empty
}

object Frames {
  /** Order-independent content hash of a frame plus its row count, in
    * one job that reads every column (map columns hashed through their
    * key-sorted entries). Doubles as the "force" of a lazy result. */
  def hash(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(array_sort(map_entries(col(f.name))))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(bit_xor(col("h")), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists(_))
  }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    }

  def dirStats(p: Path): (Long, Double) =
    if (!Files.exists(p)) (0L, 0.0)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .filter(f => !f.getFileName.toString.startsWith("_")).toSeq
      (files.size.toLong, files.map(Files.size(_)).sum / 1048576.0)
    }
}
