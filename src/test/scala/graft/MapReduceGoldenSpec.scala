package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.MapReduce

/** The reference's golden differential methodology (src/main/test-mr.sh:
  * 80-111): run each portable app distributed, compare the globally sorted
  * `"key value"` lines against the independent single-process sequential
  * oracle over the same corpus ([[TestCorpus]]: eight generated `pg-*.txt`
  * files standing in for the reference's Project Gutenberg books).
  */
class MapReduceGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def glob = TestCorpus.glob

  private def distributedSorted(app: String, nReduce: Int): Seq[String] =
    MapReduce.run(spark, AppRegistry(app), glob, nReduce)
      .map { case (k, v) => s"$k $v" }
      .collect().toSeq.sorted

  private def sequentialSorted(app: String): Seq[String] =
    MapReduce.runSequential(AppRegistry(app), MapReduce.globPaths(glob)).sorted

  for (app <- Seq("wc", "indexer", "collector", "filecount")) {
    test(s"$app: distributed matches sequential oracle (nReduce=10)") {
      val got = distributedSorted(app, nReduce = 10)
      val want = sequentialSorted(app)
      assert(got.size == want.size, s"row count ${got.size} != ${want.size}")
      assert(got == want)
    }
  }

  test("wc: result invariant to reduce partition count (3 vs 10)") {
    assert(distributedSorted("wc", 3) == distributedSorted("wc", 10))
  }

  test("wc: splittable runLines equals whole-file run on the pg corpus") {
    // wc's map distributes over lines (newline is a token separator).
    // indexer does NOT (its map-side `.distinct` is per-DOCUMENT);
    // collector/filecount need whole-file context — all three stay on the
    // faithful whole-file path.
    val viaLines = MapReduce.runLines(spark, AppRegistry("wc"), glob, 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    assert(viaLines == distributedSorted("wc", 10))
  }

  test("wc: algebraic combiner path (runAlgebraic) equals groupByKey path") {
    // wc's reduce is a count => combinable as integer addition.
    val viaCombiner = MapReduce
      .runAlgebraic(spark, AppRegistry("wc"), glob,
        (a, b) => (a.toLong + b.toLong).toString, nReduce = 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    assert(viaCombiner == distributedSorted("wc", 10))
  }

  test("wc: known corpus total word count") {
    // The exact tokenizer-dependent sum over TestCorpus's generated text.
    val total = MapReduce.run(spark, AppRegistry("wc"), glob, 10)
      .map(_._2.toLong).sum()
    assert(total == 254964L, s"corpus total $total")
  }

  /** Committed golden digests over the pg corpus — guards BOTH
    * implementations drifting together (the sorted-output md5 was locked
    * when distributed and sequential first byte-matched). The corpus
    * directory is a fresh temp dir per run, so `indexer`'s document paths
    * are hashed relative to it.
    */
  test("golden digests: wc and indexer sorted output md5") {
    val prefix = TestCorpus.dir.toString + "/"
    def md5(lines: Seq[String]): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.update(lines.map(_.replace(prefix, "")).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.digest().map("%02x".format(_)).mkString
    }
    assert(md5(sequentialSorted("wc")) == "ebc02103d7c016f0697a4f46796928eb")
    assert(md5(sequentialSorted("indexer")) == "aaacd562d1de773b3ac8bc328da9040e")
  }
}
