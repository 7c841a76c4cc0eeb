package graft.perfbench

import graft.Main
import graft.streaming.Replication
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The reference's operating cycle through the CLI (`Main.run`).
  *
  * Set-up, repeated `Reps` times into a fresh database: bulk-load the
  * dump (`-c -f`), then catch up the backlog (`--init-sequence 0 -r`).
  * A tick publishes one more diff (advance `state.yaml`), runs one cron
  * tick (`-r`, the `main` operation), then point-looks-up the tick's
  * seeded ids (`probe`). `WarmupTicks` untimed ticks run before the
  * timed ones: the first lookups after set-up take twice as long while
  * the JIT compiles. Table states and lookup rows are observed for the
  * checks against the generator's truth. */
object Lifecycle {
  val Reps = 3
  val WarmupTicks = 1

  def run(h: Harness): Long = {
    val spark = h.spark
    val dir = h.dir
    val props = Files.readAllLines(dir.resolve("lifecycle.txt")).asScala
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val backlog = props("backlog").toLong
    val maxTicks = props("max_ticks").toInt
    val Array(latLo, latHi, lonLo, lonHi) = props("bbox").split(",")
    val lookups = Files.readAllLines(dir.resolve("lookups.txt")).asScala
      .map(_.split(" ").map(_.toLong)).toIndexedSeq
    val feed = dir.resolve("feed")
    val dump = dir.resolve("dump").toString + "/part*.osm.xml"
    def publish(seq: Long): Unit =
      Files.writeString(feed.resolve("state.yaml"),
        s"---\nlast_run: 2015-01-01 00:00:00.000000000 +00:00\nsequence: $seq\n")
    def cli(db: Path, args: String*): Unit =
      Main.run(spark, Main.parse(("-d" :: db.toString :: args.toList)))
    def csDir(db: Path) = db.resolve("tables").resolve("changesets")
    def observeState(db: Path, seq: String): Unit =
      h.op("check", "state", s"state/$seq") { _ =>
        val cs = Replication.changesetTable(csDir(db))
        val cm = Replication.commentsTable(csDir(db))
        val view = "pb_changesets"
        cs.read(spark).createOrReplaceTempView(view)
        val readme = Seq(
          s"SELECT count(*) FROM $view WHERE map_contains_key(tags, 'comment')",
          s"SELECT count(*) FROM $view WHERE try_element_at(tags, 'created_by') LIKE 'JOSM%'",
          s"SELECT count(*) FROM $view WHERE min_lat >= $latLo AND max_lat <= $latHi " +
            s"AND min_lon >= $lonLo AND max_lon <= $lonHi")
          .map(q => spark.sql(q).head().getLong(0))
        spark.catalog.dropTempView(view)
        Seq(Canon.digest(cs.read(spark), Canon.ChangesetCols),
          Canon.digest(cm.read(spark), Canon.CommentCols), readme.mkString(",")).mkString(" ")
      }

    var db: Path = null
    for (rep <- 0 until Reps) {
      if (db != null) Runner.deleteTree(db)
      db = dir.resolve(s"db$rep")
      publish(backlog)
      // the state the timed loop continues from is checked after each step
      val last = rep == Reps - 1
      h.op("setup", "load", s"setup/$rep") { _ => cli(db, "-c", "-f", dump); "" }
      if (last) observeState(db, "load")
      h.op("setup", "catchup", s"setup/$rep") { _ =>
        cli(db, "--init-sequence", "0", "-r", feed.toString); ""
      }
      if (last) observeState(db, backlog.toString)
    }

    val table = Replication.changesetTable(csDir(db))
    var k = 0
    def tick(timed: Boolean): Unit = {
      def kind(x: String) = if (timed) x else "warmup"
      k += 1
      val seq = backlog + k
      publish(seq)
      h.op(kind("main"), "tick") { _ =>
        cli(db, "-r", feed.toString)
        val at = Replication.StateDoc.read(db.resolve("replication_state.txt")).lastSequence
        require(at == seq, s"offset $at after tick, expected $seq")
        ""
      }
      for ((key, j) <- lookups(k - 1).zipWithIndex if !timed || h.running)
        h.op(kind("probe"), "lookup", s"lookup/$k/$j") { id =>
          h.query(id, table.lookup(spark, key))
            .map(Canon.line(_, Canon.ChangesetCols)).sorted.mkString("\n")
        }
    }
    for (_ <- 1 to WarmupTicks) tick(timed = false)
    while (h.running && k < maxTicks) tick(timed = true)
    observeState(db, (backlog + k).toString)
    Runner.dirBytes(db)
  }
}

/** Canonical text of a row and an order-insensitive table digest; the
  * generator computes the same lines and sums for its expected state. */
object Canon {
  val ChangesetCols = Seq("id", "user_id", "created_at", "min_lat", "max_lat", "min_lon",
    "max_lon", "closed_at", "open", "num_changes", "user_name", "tags")
  val CommentCols = Seq("comment_changeset_id", "comment_user_id", "comment_user_name",
    "comment_date", "comment_text")

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def cell(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp => tsFormat.format(t.toInstant)
    case t: java.time.Instant => tsFormat.format(t)
    case d: java.math.BigDecimal => d.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString("\u001f")
    case other => other.toString
  }

  def line(r: Row, cols: Seq[String]): String =
    cols.map(c => cell(r.get(r.fieldIndex(c)))).mkString("\t")

  def hash(line: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("SHA-256")
      .digest(line.getBytes("UTF-8"))).getLong

  /** "<rows>:<sum of line hashes mod 2^64, hex>". */
  def digest(df: DataFrame, cols: Seq[String]): String = {
    val (n, acc) = df.select(cols.map(col): _*).rdd
      .map(r => (1L, hash(line(r, cols))))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val hex = java.lang.Long.toUnsignedString(acc, 16)
    s"$n:${"0" * (16 - hex.length)}$hex"
  }
}
