package graft.perfbench

import graft.SparkEntry
import graft.operators.{Relational, SqlSurface}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The headline operator set on the seeded TPC-H-shaped tables.
  *
  * Set-up, repeated `Reps` times: the bucketed layouts `join_bucketed`
  * reads (write-time ETL, as in `graft.Bench`). One untimed pass writes
  * every entry's result for the fingerprint check. A cycle is
  * `ProbesPerPass` ad-hoc SQL queries through `spark.sql` (`probe`, the
  * `sql_map_contains` entry), then one full pass over the entries in the
  * seed's order for that pass (`main`). `WarmupCycles` untimed cycles
  * run before the timed ones: pass times still fall by a quarter over
  * the first few cycles while the JIT compiles. */
object QueryMix {
  val Reps = 3
  val ProbesPerPass = 2
  val WarmupCycles = 2
  val Probe = "sql_map_contains"

  type Entry = (SparkSession, String) => DataFrame

  /** The entry functions `graft.Bench` times: `SparkEntry.queries`, with
    * the bucketed join reading the layouts `buildBucketedTables` wrote. */
  def bindings(bucketed: (String, String)): Map[String, Entry] =
    SparkEntry.queries + ("join_bucketed" -> ((s: SparkSession, _: String) =>
      Relational.joinBucketedOn(s, bucketed._1, bucketed._2)))

  /** The seeded per-pass entry orders in `dir/passes.txt`. */
  def passes(dir: Path): IndexedSeq[Seq[String]] =
    Files.readAllLines(dir.resolve("passes.txt")).asScala
      .map(_.split(" ").toSeq).toIndexedSeq

  /** One pass inside operation `id`: each entry is a span named after
    * it, with the entry call, plan and execution as its children. */
  def pass(h: Harness, id: Long, names: Seq[String], fns: Map[String, Entry],
      data: String): Unit =
    names.foreach(name => h.tracer.span(name, id)(h.execute(id, fns(name)(h.spark, data))))

  def run(h: Harness): Long = {
    val spark = h.spark
    val d = h.dir.resolve("data").toString
    val order = passes(h.dir)
    var bucketed = ("", "")
    for (rep <- 0 until Reps)
      h.op("setup", "layout", s"setup/$rep") { _ =>
        bucketed = Relational.buildBucketedTables(spark, d)
        ""
      }
    val fns = bindings(bucketed)

    val results = h.dir.resolve("results")
    for (name <- order.head :+ Probe)
      h.op("warmup", name, s"fingerprint/$name") { _ =>
        fns(name)(spark, d).coalesce(1).write.mode("overwrite")
          .parquet(results.resolve(name).toString)
        ""
      }
    Files.writeString(h.dir.resolve("oracle_sql.json"), Json.obj(
      (order.head :+ Probe).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*)
      .toString)

    def cycle(p: Int, timed: Boolean): Unit = {
      def kind(k: String) = if (timed) k else "warmup"
      for (_ <- 0 until ProbesPerPass if !timed || h.running)
        h.op(kind("probe"), Probe) { id => h.execute(id, SqlSurface.sqlMapContains(spark, d)); "" }
      if (!timed || h.running)
        h.op(kind("main"), "pass") { id => pass(h, id, order(p % order.size), fns, d); "" }
    }
    for (p <- 1 to WarmupCycles) cycle(p, timed = false)
    var p = WarmupCycles
    while (h.running) {
      p += 1
      cycle(p, timed = true)
    }
    Runner.dirBytes(h.dir.resolve("warehouse")) + Runner.dirBytes(h.dir.resolve("tmp"))
  }
}
