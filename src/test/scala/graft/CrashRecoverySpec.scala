package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.{KV, MRApp, MapReduce}

/** The reference's crash-recovery methodology (src/main/test-mr.sh:284-330 /
  * src/mrapps/crash.go): inject task failures mid-job and require the output
  * to still match the no-crash golden run. Here the failure is a
  * deterministic first-attempt exception inside the map UDF; Spark's task
  * re-execution (the E11 analog of the coordinator's 10 s requeue) must
  * retry and converge to the identical result.
  */
class CrashRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def glob = TestCorpus.glob

  test("map-side task crash on first attempt still matches the golden run") {
    val inner = AppRegistry("wc")
    val crashing = new MRApp {
      val name = "crashing-wc"
      def map(file: String, contents: String): Seq[KV] = {
        if (TaskContext.get() != null && TaskContext.get.attemptNumber() == 0
            && CrashRecoverySpec.shouldCrash(file)) {
          throw new RuntimeException(s"injected crash for $file (attempt 0)")
        }
        inner.map(file, contents)
      }
      def reduce(key: String, values: Seq[String]): String =
        inner.reduce(key, values)
    }
    val got = MapReduce.run(spark, crashing, glob, 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    val want = MapReduce
      .runSequential(inner, MapReduce.globPaths(glob)).sorted
    assert(CrashRecoverySpec.crashed.size > 0, "no crash was injected")
    assert(got == want)
  }

  test("reduce-side task crash on first attempt still matches the golden run") {
    // The reference's crash suite kills reducers too
    // (src/main/test-mr.sh:284-330): a reduce attempt dies AFTER the map
    // phase committed, and the rerun must re-fetch the same shuffle
    // output and converge. Injected here as a first-attempt exception
    // inside the reduce UDF — the E5 re-read + E11 re-execution path.
    val inner = AppRegistry("wc")
    val crashing = new MRApp {
      val name = "crashing-reduce-wc"
      def map(file: String, contents: String): Seq[KV] =
        inner.map(file, contents)
      def reduce(key: String, values: Seq[String]): String = {
        if (TaskContext.get() != null && TaskContext.get.attemptNumber() == 0
            && CrashRecoverySpec.shouldCrashReduce(key)) {
          throw new RuntimeException(s"injected reduce crash for $key (attempt 0)")
        }
        inner.reduce(key, values)
      }
    }
    val got = MapReduce.run(spark, crashing, glob, 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    val want = MapReduce
      .runSequential(inner, MapReduce.globPaths(glob)).sorted
    assert(CrashRecoverySpec.reduceCrashed.size > 0,
      "no reduce crash was injected")
    assert(got == want)
  }
}

object CrashRecoverySpec {
  /** Crash exactly once per matching file across the job (executor-local
    * set is enough: local mode shares the JVM). `add` is true only for the
    * first caller.
    */
  val crashed: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  def shouldCrash(file: String): Boolean =
    file.contains("sherlock") && crashed.add(file)

  /** Same once-only marker for the reduce stage, keyed by reduce key. */
  val reduceCrashed: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  def shouldCrashReduce(key: String): Boolean =
    key == "Sherlock" && reduceCrashed.add(key)
}
