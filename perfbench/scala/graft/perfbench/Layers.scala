package graft.perfbench

import graft.Main
import graft.functions.GraftExtensions
import graft.operators.Relational
import graft.sources.{BulkLoad, OsmXml}
import graft.streaming.Replication
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Layer figures measured in the traced run, on the same seeded layer
  * inputs in every workload:
  *
  *  - the XML source over the dump and over one feed diff, the bulk
  *    layout, and the fresh partitioned-table write;
  *  - the feed applied one diff per `Replication.catchUp` call to a
  *    table loaded from the dump through the CLI, with the buckets each
  *    call rewrote and the files it vacuumed and left live;
  *  - the query entries of `query_mix`, one pass per operation (their
  *    per-entry figures come from the spans, `Harness.perLayer`);
  *  - the native kernels called through SQL over a cached column.
  *
  * Each figure is the median of `Reps` calls; results are consumed by a
  * `noop` sink. */
object Layers {
  val Reps = 3

  def run(h: Harness, dir: Path): Map[String, Double] = {
    val spark = h.spark
    val dump = dir.resolve("dump").toString + "/part*.osm.xml"
    val n = Files.readString(dir.resolve("n_dump.txt")).trim.toLong
    val scratch = dir.resolve("out")
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def rate(rows: Long)(body: => Unit): Double =
      Stats.median((1 to Reps).map { _ =>
        val s = seconds(body)
        Runner.deleteTree(scratch)
        rows / s
      })
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
      runs.head.keys.map(k => k -> Stats.median(runs.map(_(k)))).toMap

    val parsed = OsmXml.changesets(OsmXml.scan(spark, dump)).cache()
    parsed.count()
    val sources = Map(
      "sources.parse_rows_per_s" -> rate(n) {
        val raw = OsmXml.scan(spark, dump)
        noop(OsmXml.changesets(raw))
        noop(OsmXml.comments(raw))
      },
      "sources.bulk_layout_rows_per_s" -> rate(n)(BulkLoad.run(spark, dump, scratch.toString)),
      "streaming.fresh_write_rows_per_s" -> rate(n) {
        Replication.changesetTable(scratch.resolve("changesets")).mergeInto(spark, parsed)
      })
    parsed.unpersist()

    val db = dir.resolve("db")
    val tables = db.resolve("tables")
    val csDir = tables.resolve("changesets")
    val statePath = db.resolve("replication_state.txt")
    val feed = dir.resolve("feed")
    Main.run(spark, Main.parse(List("-d", db.toString, "-c", "-f", dump)))
    Replication.StateDoc.write(statePath, Replication.ReplState(0L, None, updateInProgress = false))
    val table = Replication.changesetTable(csDir)
    def dataFiles(): Set[Path] = {
      val s = Files.walk(tables)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSet
      finally s.close()
    }
    val streaming = medians((1 to Reps).map { seq =>
      val diff = feed.resolve(Replication.sequencePath(seq)).toString
      val parseS = seconds {
        val raw = OsmXml.scan(spark, diff)
        noop(OsmXml.changesets(raw))
        noop(OsmXml.comments(raw))
      }
      val diffRows = OsmXml.changesets(OsmXml.scan(spark, diff)).count()
      Files.writeString(feed.resolve("state.yaml"),
        s"---\nlast_run: 2015-01-01 00:00:00.000000000 +00:00\nsequence: $seq\n")
      val (m0, f0) = (table.manifest, dataFiles())
      val catchUpS = seconds(Replication.catchUp(spark, feed, csDir, statePath))
      val (m1, f1) = (table.manifest, dataFiles())
      val rewritten = m1.keys.filterNot(b => m0.get(b).contains(m1(b))).toSeq.sorted
      val rewrittenRows = if (rewritten.isEmpty) 0L else table.readBuckets(spark, rewritten).count()
      Map("sources.diff_parse_s" -> parseS,
        "streaming.catchup_s" -> catchUpS,
        "streaming.buckets_rewritten" -> rewritten.size.toDouble,
        "streaming.rewrite_amp" -> rewrittenRows.toDouble / diffRows,
        "streaming.vacuumed_files" -> (f0 -- f1).size.toDouble,
        "streaming.live_files" -> f1.size.toDouble)
    })

    // one warm-up pass, then `Reps` passes whose spans are the
    // operators.* figures
    val data = dir.resolve("data").toString
    val fns = QueryMix.bindings(Relational.buildBucketedTables(spark, data))
    val order = QueryMix.passes(dir)
    for (rep <- 0 to Reps)
      h.op("layer", "operators", if (rep == 0) Layers.WarmupKey else s"operators/$rep") { id =>
        QueryMix.pass(h, id, order(rep), fns, data)
        ""
      }

    GraftExtensions.register(spark)
    val corpus = dir.resolve("corpus").toString
    def cached(name: String, df: DataFrame): Long = {
      df.cache().createOrReplaceTempView(name)
      df.count()
    }
    val nDocs = cached("pb_docs",
      graft.Tables.documents(spark, corpus).selectExpr("split(text, ' ') AS words"))
    // MinHash signs 64 slots per shingle, ~50x the per-row cost of the
    // other kernels: a tenth of the documents keeps its timing comparable
    val nSigned = cached("pb_shingles", spark.sql(
      s"SELECT word_shingles(words, 5) AS sh FROM pb_docs LIMIT ${nDocs / 10}"))
    val nVecs = cached("pb_vecs", graft.Tables.embeddings(spark, corpus)
      .selectExpr("embedding", "quantize_i8(embedding).codes AS codes"))
    val nPts = cached("pb_points", spark.range(nVecs * 4)
      .selectExpr("id % 65536 AS x", "(id * 7919) % 65536 AS y"))
    val kernels = Seq(
      ("minhash_sig", nSigned, "minhash_sig(sh, 64) FROM pb_shingles"),
      ("pos_gram_hashes", nDocs, "pos_gram_hashes(words, 3) FROM pb_docs"),
      ("word_shingles", nDocs, "word_shingles(words, 5) FROM pb_docs"),
      ("gram_stats", nDocs, "gram_stats(words) FROM pb_docs"),
      ("dot_f32", nVecs, "dot_f32(embedding, embedding) FROM pb_vecs"),
      ("dot_i8", nVecs, "dot_i8(codes, codes) FROM pb_vecs"),
      ("quantize_i8", nVecs, "quantize_i8(embedding) FROM pb_vecs"),
      ("hilbert32", nPts, "hilbert32(x, y) FROM pb_points"))
      .map { case (fn, rows, q) =>
        s"functions.${fn}_rows_per_s" -> rate(rows)(noop(spark.sql(s"SELECT $q")))
      }
    Seq("pb_docs", "pb_shingles", "pb_vecs", "pb_points").foreach { v =>
      spark.table(v).unpersist()
      spark.catalog.dropTempView(v)
    }
    sources ++ streaming ++ kernels
  }

  val WarmupKey = "operators/warmup"
}
