package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Round-7 optimization harness (guide §1.4): per-query isolation with the
  * noop sink and `.explain("formatted")` capture — SEPARATE from the frozen
  * driver contract in [[Bench]], which is never modified.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.BenchExtra <name-regex> [nRuns] [plansDir] [suffix]"
  *
  * For each registry query whose WHOLE name matches the regex (exit 2 when
  * none does): dumps the formatted physical
  * plan to `<plansDir>/<name>_<suffix>.txt` (when plansDir is given) and
  * times `nRuns` noop-sink executions, printing every sample plus the min —
  * the same action and sink as the frozen bench, so numbers are comparable.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val pat = args.headOption.getOrElse(".*")
    val nRuns = if (args.length > 1) args(1).toInt else 3
    val plansDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val names = SparkEntry.queries.keys.filter(_.matches(pat)).toSeq.sorted
    if (names.isEmpty) {
      System.err.println(s"[benchextra] no registry query matches '$pat': " +
        "the pattern must match the whole name (e.g. 'v_.*', not 'v_')")
      sys.exit(2)
    }
    val spark = Sessions.local(cpus, "graft-benchextra")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      plansDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.write(Paths.get(d, s"${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
      }
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val times = (1 to nRuns).map { _ =>
        val (_, sec) = Bench.timed {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        sec
      }
      spark.sparkContext.setJobDescription(null)
      val ts = times.map(t => f"$t%.3f").mkString(",")
      println(f"[benchextra] $name%-24s min=${times.min}%8.3f  runs=[$ts]")
    }
    spark.stop()
  }
}
