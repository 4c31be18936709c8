package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  /** Spec scratch dirs go on the session shape's scratch base (tmpfs
    * when available): a just-written parquet re-read from /tmp
    * occasionally threw ChecksumException under parallel suites
    * (disk-cache flakiness); /dev/shm sidesteps it.
    */
  def scratchPath(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SessionTuning.scratchBase), prefix)

  def scratchDir(prefix: String): String = scratchPath(prefix).toString

  lazy val spark: SparkSession = {
    val s = SessionTuning.builder(4, "test")
      .config("spark.sql.warehouse.dir", scratchDir("graft_wh"))
      .getOrCreate()
    // Kill the CRC-sidecar race: Hadoop caches ONE LocalFileSystem
    // instance per scheme, and Spark's streaming checkpoint managers
    // toggle checksum flags on that shared instance mid-run — a
    // parquet written by a parallel suite while the flags flip could
    // get a stale/partial .crc and fail its read-back (reproduced on
    // tmpfs, so never disk flakiness). Disabling sidecars once, up
    // front, removes that shared state. (Per-instance FS via
    // fs.file.impl.disable.cache reintroduces default-on checksums and
    // made it worse; RawLocalFileSystem breaks RocksDB state-store
    // commits — both measured before settling here.)
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(s.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    s
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Runs `body` with the session confs `kv` set, then restores them.
    * A file scan sizes its splits when it is planned, so plan and run
    * the reads inside `body`.
    */
  def withConf[A](session: SparkSession)(kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> session.conf.getOption(k) }
    kv.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }
}

/** A `GRAFT_PERF` spec's own `local[32]` session in the shared shape,
  * stopped after the suite so that a later suite in the same JVM can
  * start the shared `local[4]` one. While another master's session is
  * live, [[perfSession]] fails instead of measuring on it; run such a
  * spec on its own (`GRAFT_PERF=1 sbt "testOnly <spec>"`).
  */
trait PerfSession extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>
  private var own: Option[SparkSession] = None

  protected def perfSession(): SparkSession = {
    val s = SessionTuning.builder(32, "perf").getOrCreate()
    own = Some(s)
    s
  }

  override protected def afterAll(): Unit =
    try own.foreach(_.stop()) finally super.afterAll()
}
