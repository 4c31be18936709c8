package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SessionTuning]]'s one session shape: what the core count,
  * the scratch dir and the fixed settings turn into, the order in
  * which the scratch dir is chosen, and the refusal to hand back a
  * live session on a different master.
  */
class SessionShapeSpec extends AnyFunSuite {

  test("the shape: core count → master and shuffle partitions, UTC, UI off, scratch, AQE") {
    val conf = SessionTuning.shape("local[8]", 8, "/scratch/graft-x-scratch").toMap
    assert(conf("spark.master") === "local[8]")
    assert(conf("spark.sql.shuffle.partitions") === "8")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.ui.enabled") === "false")
    assert(conf("spark.local.dir") === "/scratch/graft-x-scratch")
    assert(conf("spark.log.level") === "WARN")
    // scaleAdaptive's three values, which the benchmark harness also
    // applies to its own session
    assert(SessionTuning.Adaptive.toMap === Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m"))
    assert(SessionTuning.Adaptive.forall { case (k, v) => conf(k) == v })
  }

  test("the shared test session is built in the shape") {
    val sc = TestSpark.spark.sparkContext
    assert(sc.master === "local[4]")
    assert(sc.getConf.get("spark.sql.session.timeZone") === "UTC")
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    val localDir = sc.getConf.get("spark.local.dir")
    assert(localDir.endsWith("/graft-test-scratch"))
    assert(sys.props("java.io.tmpdir") === localDir)
    val dir = TestSpark.scratchPath("shape")
    try assert(dir.getParent.toString === SessionTuning.scratchBase)
    finally java.nio.file.Files.delete(dir)
  }

  test("scratch resolution: SPARK_GRAFT_SCRATCH, then /dev/shm, then tmpdir") {
    def pick(env: Option[String], writable: Set[String]) =
      SessionTuning.resolveScratch(env, "/tmpdir", writable)
    val all = Set("/disk", "/dev/shm", "/tmpdir")
    assert(pick(Some("/disk"), all) === "/disk")
    assert(pick(None, all) === "/dev/shm")
    // an override that cannot be written falls through to tmpfs
    assert(pick(Some("/disk"), Set("/dev/shm", "/tmpdir")) === "/dev/shm")
    // a non-writable /dev/shm falls back to the JVM's tmpdir
    assert(pick(None, Set("/tmpdir")) === "/tmpdir")
    // and tmpdir is the answer when nothing is writable
    assert(pick(Some("/disk"), Set.empty) === "/tmpdir")
  }

  test("a live session on another master is refused, naming both masters") {
    val held = TestSpark.spark.sparkContext.master
    val e = intercept[IllegalStateException](SessionTuning.builder(2, "shape"))
    assert(e.getMessage.contains(held) && e.getMessage.contains("local[2]"),
      e.getMessage)
    // the same master is not a conflict: getOrCreate hands back the
    // live session
    assert(SessionTuning.builder(4, "test").getOrCreate() eq TestSpark.spark)
  }
}
