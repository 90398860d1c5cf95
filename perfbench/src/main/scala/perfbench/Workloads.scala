package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, round, sum, count, xxhash64}

import graft.SparkEntry
import graft.apps.AppRegistry
import graft.engine.MapReduce
import graft.sources.Snapshots

/** One timed call into the program. `run` performs the call inside
  * `ctx.phase(...)` blocks and returns a check that the harness runs after
  * the clock stops.
  */
final case class Op(name: String, kind: String, run: OpCtx => (() => Unit))

/** A named, seeded workload: a set-up and a sequence of passes. */
trait Workload {
  def name: String
  /** Builds the workload's inputs into `dir`; timed as set-up. */
  def setup(dir: Path): Unit
  /** Builds what the checks compare against, after the last set-up;
    * untimed.
    */
  def reference(): Unit = ()
  /** The operations of pass `p`. `checkPass` marks the untimed warm pass
    * whose query outputs are digested against the pins.
    */
  def pass(p: Int, checkPass: Boolean): Seq[Op]
  /** Problems found in the final state, after the last pass. */
  def finalCheck(): Seq[String] = Nil
}

object Workload {
  /** Query workloads read the sf0.01 tables; the snapshot table is built
    * from sf0.1 `orders`, where row payload, not per-file index overhead,
    * dominates file sizes.
    */
  val QuerySf = "0.01"
  val LakeSf = "0.1"

  def apply(name: String, spark: SparkSession, dataRoot: String, seed: Long): Workload = {
    val data = s"$dataRoot/sf$QuerySf"
    name match {
      case "loop_converge" => new LoopConverge(spark, data, seed)
      case "corpus_mr"     => new CorpusMr(spark, data, seed)
      case "lakehouse_rw"  => new LakehouseRw(spark, s"$dataRoot/sf$LakeSf", seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Writes the input tables under `dataRoot` with graft.GenData. */
  def generate(spark: SparkSession, dataRoot: String): Unit = {
    graft.GenData.generate(spark, s"$dataRoot/sf$QuerySf", QuerySf.toDouble)
    graft.GenData.generateOnly(spark, s"$dataRoot/sf$LakeSf", LakeSf.toDouble, Set("orders"))
  }

  def shuffled[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** Order-insensitive content digest of a query result: row count, the
    * wrapping sum of per-row xxhash64 values, and the schema.
    */
  def digest(df: DataFrame): Map[String, Any] = {
    val hs = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*))
      .collect().map(_.getLong(0))
    Map("rows" -> hs.length.toLong, "hash" -> f"${hs.sum}%016x",
      "schema" -> df.schema.simpleString)
  }

  def queryOp(spark: SparkSession, data: String, q: String, checkPass: Boolean): Op =
    Op(q, "query", ctx => {
      val df = ctx.phase("queries.construct")(SparkEntry.queries(q)(spark, data))
      if (checkPass) {
        val d = ctx.phase("action")(digest(df))
        () => ctx.extra("digest") = d
      } else {
        ctx.phase("action")(df.write.format("noop").mode("overwrite").save())
        () => ()
      }
    })

  /** Scans each of `tables` once through the noop sink. */
  def scanTables(spark: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach(t => graft.queries.Tables.t(spark, data, t)
      .write.format("noop").mode("overwrite").save())
}

/** Converging loop queries: many plans and eager materializations per
  * query, so driver-side construction dominates the wall. One query per
  * loop family (dedup components, kNN clustering, PageRank). It runs by
  * name only: at about 90 s a run it does not fit the run budget of the
  * workloads in BENCHMARK.json.
  */
final class LoopConverge(spark: SparkSession, data: String, seed: Long) extends Workload {
  val name = "loop_converge"
  private val queries = Seq("dedup_components", "sim_knn_clusters", "graph_pagerank")
  def setup(dir: Path): Unit =
    Workload.scanTables(spark, data, Seq("documents", "embeddings", "orders", "lineitem"))
  def pass(p: Int, checkPass: Boolean): Seq[Op] =
    Workload.shuffled(queries, seed, p).map(Workload.queryOp(spark, data, _, checkPass))
}

/** The paper's MapReduce path: `MapReduce.run` with the reference apps over
  * a seeded eight-file corpus made from `documents` text, plus single-pass
  * text and ANN queries. One plan per query. The single-pass dedup queries (minhash pairs, LSH
  * verified) are left out to fit the benchmark's time budget.
  */
final class CorpusMr(spark: SparkSession, data: String, seed: Long) extends Workload {
  val name = "corpus_mr"
  private val queries = Seq("mr_wordcount", "mr_inverted_index", "ta_winnow",
    "sim_topk_ivfpq")
  private val apps = Seq("wc", "indexer")
  private var files: Seq[Path] = Nil
  private var corpusWords = 0L
  private val expected = mutable.Map.empty[String, Seq[String]]

  /** Byte sizes of the reference's eight `pg-*.txt` books (FIXTURES.md
    * section 1), 3,301,104 bytes in all. The corpus has one file of each
    * size, so `MapReduce.run` gets the reference's map tasks and bytes.
    */
  val FileBytes = Seq(138885, 453168, 441033, 540174, 594262, 139054, 581863, 412665)
  /** The reference corpus's word count (FIXTURES.md section 1). */
  val ReferenceWords = 608645L

  /** Fills each file with whole `documents` lines drawn by the seed, then
    * with single words of one more line, then spaces, up to its size.
    */
  def setup(dir: Path): Unit = {
    val docs = graft.queries.Tables.t(spark, data, "documents")
      .select("text").collect().map(_.getString(0))
    val rng = new scala.util.Random(seed)
    Files.createDirectories(dir)
    files = FileBytes.zipWithIndex.map { case (size, i) =>
      val sb = new java.lang.StringBuilder(size)
      while (sb.length < size) {
        val line = docs(rng.nextInt(docs.length))
        if (sb.length + line.length + 1 <= size) sb.append(line).append('\n')
        else {
          line.split(' ').foreach(w => if (sb.length + w.length + 1 <= size) sb.append(w).append(' '))
          while (sb.length < size) sb.append(' ')
        }
      }
      val f = dir.resolve(f"pg-$i%02d.txt")
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
      f.toRealPath()
    }
    corpusWords = files.map { f =>
      val s = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      (0 until s.length).count(j => s.charAt(j).isLetter && (j == 0 || !s.charAt(j - 1).isLetter))
        .toLong
    }.sum
    expected.clear()
  }

  /** The corpus must have the reference's bytes and, within 2%, its word
    * count. Its vocabulary is the documents' 31 words, far fewer distinct
    * keys than the books have.
    */
  override def finalCheck(): Seq[String] = {
    val bytes = files.map(Files.size).sum
    val words = math.abs(corpusWords.toDouble / ReferenceWords - 1)
    (if (bytes != FileBytes.sum) Seq(s"corpus has $bytes bytes, not ${FileBytes.sum}") else Nil) ++
      (if (words > 0.02) Seq(s"corpus has $corpusWords words, not about $ReferenceWords") else Nil)
  }

  private def glob: String = files.head.getParent.resolve("pg-*.txt").toString

  private def mrOp(app: String): Op = Op(s"mr_$app", "mr", ctx => {
    val out = ctx.phase("engine.run")(
      MapReduce.run(spark, AppRegistry(app), glob, 10, files.size).collect())
    () => {
      val want = expected.getOrElseUpdate(app,
        MapReduce.runSequential(AppRegistry(app), files))
      val got = out.map { case (k, v) => s"$k $v" }.sorted.toSeq
      ctx.extra("groups_out") = out.length.toLong
      ctx.extra("corpus_words") = corpusWords
      if (got != want)
        ctx.problems += s"MapReduce.run($app) differs from runSequential " +
          s"(${got.size} vs ${want.size} groups)"
    }
  })

  def pass(p: Int, checkPass: Boolean): Seq[Op] =
    Workload.shuffled(apps.map(mrOp) ++
      queries.map(Workload.queryOp(spark, data, _, checkPass)), seed, p)
}

/** Snapshot-table commits and reads on `orders`, checked against an
  * in-benchmark replay of the seeded operation log.
  */
final class LakehouseRw(spark: SparkSession, data: String, seed: Long) extends Workload {
  val name = "lakehouse_rw"
  private val Key = "o_orderkey"
  private var table: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private val model = mutable.LinkedHashMap.empty[Long, Row]
  private var nextKey = 0L
  private var bytesPerRow = 1.0
  private var targetBytes = 1L
  private var known = Map.empty[Path, Long]

  def setup(dir: Path): Unit = {
    table = dir.resolve("orders").toString
    Snapshots.publish(graft.queries.Tables.t(spark, data, "orders"), table)
    Snapshots.addBloomIndex(table, Key)
    Snapshots.compact(spark, table, 8, col(Key))
  }

  override def reference(): Unit = {
    val orders = graft.queries.Tables.t(spark, data, "orders")
    schema = orders.schema
    model.clear()
    orders.collect().foreach(r => model(r.getLong(0)) = r)
    nextKey = model.keys.max + 1
    known = listFiles()
    val (keep, skip) = Snapshots.pruneFiles(table, Key, Long.MinValue, Long.MaxValue)
    val sizes = (keep ++ skip).map(n => Files.size(Paths.get(table, "data", n)))
    bytesPerRow = sizes.sum.toDouble / model.size
    // Files smaller than every file the set-up wrote are the ones the
    // periodic optimize packs: appends and merge inserts.
    targetBytes = sizes.min * 9 / 10
  }

  private def listFiles(): Map[Path, Long] = {
    val w = Files.walk(Paths.get(table))
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
    finally w.close()
  }

  /** Bytes and files the last commit added to the table directory. */
  private def recordWrite(ctx: OpCtx, userRows: Long): Unit = {
    val now = listFiles()
    val added = now.filter { case (p, _) => !known.contains(p) }
    known = now
    ctx.extra("bytes_written") = added.values.sum
    ctx.extra("files_written") = added.size.toLong
    ctx.extra("user_bytes") = (userRows * bytesPerRow).toLong
    val (keep, skip) = Snapshots.pruneFiles(table, Key, Long.MinValue, Long.MaxValue)
    ctx.extra("live_files") = (keep.size + skip.size).toLong
  }

  private def cents(r: Row): Long = math.round(r.getDouble(3) * 100)
  private def newRow(k: Long, rng: scala.util.Random): Row =
    Row(k, rng.nextInt(1500).toLong, "O", (100000 + rng.nextInt(40000000)) / 100.0,
      new java.sql.Timestamp(788918400000L + rng.nextInt(2405) * 86400000L),
      "3-MEDIUM")
  private def liveKeys(rng: scala.util.Random, n: Int, window: Boolean): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq.sorted
    if (window) {
      val from = rng.nextInt(math.max(1, keys.size - 2 * n))
      keys.slice(from, from + 2 * n).filter(_ => rng.nextBoolean()).take(n)
    } else Seq.fill(n)(keys(rng.nextInt(keys.size))).distinct
  }
  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def commit(kind: String, userRows: Long)(call: => Int)(apply: => Unit): Op =
    Op(kind, "commit", ctx => {
      ctx.phase(s"sources.commit.$kind")(call)
      () => { apply; recordWrite(ctx, userRows) }
    })

  private def read(kind: String, keep: => (Seq[String], Seq[String]))(
      call: => Array[Row])(want: => Seq[Row]): Op =
    Op(kind, "read", ctx => {
      val got = ctx.phase(s"sources.read.$kind")(call)
      () => {
        val (k, s) = keep
        ctx.extra("files_kept") = k.size.toLong
        ctx.extra("files_live") = (k.size + s.size).toLong
        if (got.toSeq.map(_.toString).sorted != want.map(_.toString).sorted)
          ctx.problems += s"$kind read differs from the operation-log replay"
      }
    })

  def pass(p: Int, checkPass: Boolean): Seq[Op] = {
    val rng = new scala.util.Random(seed * 7919L + p)
    // ~1% of the table: updates inside one key window plus a few inserts.
    val upd = liveKeys(rng, model.size / 100, window = true).map { k =>
      val r = model(k)
      Row(k, r.getLong(1), "F", (cents(r) + 100 + rng.nextInt(10000)) / 100.0,
        r.get(4), r.getString(5))
    }
    val ins = (0 until 10).map(i => newRow(nextKey + i, rng))
    val delKeys = liveKeys(rng, model.size / 200, window = false)
    val app = (0 until model.size / 200).map(i => newRow(nextKey + 10 + i, rng))
    nextKey += 10 + app.size
    val mergeDelta = df(upd ++ ins)
    val appendDf = df(app)
    val pointKeys = Seq(model.keysIterator.drop(rng.nextInt(model.size)).next())
    val ranges = Seq { val lo = rng.nextInt(nextKey.toInt); (lo.toLong, lo + 150L) }

    val commits = Seq(
      commit("merge", (upd ++ ins).size)(Snapshots.merge(spark, table, mergeDelta, Key)) {
        (upd ++ ins).foreach(r => model(r.getLong(0)) = r) },
      commit("delete_dv", delKeys.size)(
        Snapshots.deleteWhereDV(spark, table, col(Key).isin(delKeys: _*))) {
        delKeys.foreach(model.remove) },
      commit("append", app.size)(Snapshots.append(appendDf, table)) {
        app.foreach(r => model(r.getLong(0)) = r) })
    // Reads see the model as of when they run: evaluate lazily.
    val reads = pointKeys.map(k =>
      read("point", Snapshots.pruneFilesBloom(table, Key, k))(
        Snapshots.readPoint(spark, table, Key, k).collect())(model.get(k).toSeq)) ++
      ranges.map { case (lo, hi) =>
        read("range", Snapshots.pruneFiles(table, Key, lo, hi))(
          Snapshots.readRange(spark, table, Key, lo, hi).collect())(
          model.valuesIterator.filter { r => val k = r.getLong(0); k >= lo && k <= hi }.toSeq)
      } :+ read("scan", Snapshots.pruneFiles(table, Key, Long.MinValue, Long.MaxValue))(
        Snapshots.read(spark, table).agg(count(lit(1)), sum(col(Key)),
          sum(round(col("o_totalprice") * 100).cast("long"))).collect())(
        Seq(Row(model.size.toLong, model.keysIterator.sum,
          model.valuesIterator.map(cents).sum)))
    Workload.shuffled(commits ++ reads, seed, p) :+
      commit("optimize", 0)(Snapshots.optimize(spark, table, targetBytes))(())
  }

  override def finalCheck(): Seq[String] = {
    val got = Snapshots.read(spark, table).collect().map(_.toString).sorted.toSeq
    val want = model.valuesIterator.map(_.toString).toSeq.sorted
    if (got == want) Nil
    else Seq(s"final table differs from the operation-log replay " +
      s"(${got.size} vs ${want.size} rows)")
  }
}
