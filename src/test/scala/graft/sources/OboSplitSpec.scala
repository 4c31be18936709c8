package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The distributed OBO stanza scan must produce byte-identical events
  * to a sequential parse of the whole file, for any split size — the
  * stanza-ownership rule (a split owns a stanza iff it owns its
  * `[Term]` line) may not lose, duplicate, or reorder stanzas even
  * when stanza bodies, obsolete markers, or `[Typedef]` interludes
  * straddle split boundaries.
  */
class OboSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val bigObo: String = {
    val sb = new StringBuilder("format-version: 1.2\nontology: synth\n\n")
    for (i <- 0 until 1200) {
      sb.append("[Term]\n")
      sb.append(f"id: GO:$i%07d\n")
      sb.append(s"name: synthetic term number $i with some padding text\n")
      if (i % 7 == 0) sb.append("namespace: biological_process\n")
      if (i % 11 == 0) sb.append(s"""def: "a definition for $i" [src:$i]\n""")
      if (i > 0) sb.append(f"is_a: GO:${i / 2}%07d ! parent\n")
      if (i % 3 == 0) sb.append(f"is_a: GO:${i / 3}%07d ! other parent\n")
      // obsolete AFTER edges were recorded — the reference quirk
      if (i % 13 == 0) sb.append("is_obsolete: true\n")
      sb.append("\n")
      // non-Term stanzas stop line processing without flushing
      if (i % 17 == 0) sb.append("[Typedef]\nid: part_of\nname: part of\n\n")
    }
    val f = Files.createTempFile("onto_big", ".obo")
    Files.writeString(f, sb.toString)
    f.toString
  }

  test("multi-split scan fans out (>1 partition) and equals the sequential parse") {
    val sequential = {
      val src = scala.io.Source.fromFile(bigObo)
      try Obo.parseLines(src.getLines()).toVector finally src.close()
    }
    assert(sequential.nonEmpty)
    for (splitBytes <- Seq(512L, 1777L, 4096L, 50000L)) {
      TestSpark.withConf(spark)("spark.sql.files.maxPartitionBytes" -> splitBytes.toString) {
        val ds = Obo.read(spark, bigObo)
        val parts = ds.rdd.getNumPartitions
        if (splitBytes <= 4096L)
          assert(parts > 1, s"splitBytes=$splitBytes planned only $parts partition(s)")
        val got = ds.collect().toVector
        assert(got == sequential, s"splitBytes=$splitBytes diverged from sequential parse")
      }
    }
  }

  test("whole-file split (default size) still matches") {
    val sequential = {
      val src = scala.io.Source.fromFile(bigObo)
      try Obo.parseLines(src.getLines()).toVector finally src.close()
    }
    val got = Obo.read(spark, bigObo).collect().toVector
    assert(got == sequential)
  }
}
