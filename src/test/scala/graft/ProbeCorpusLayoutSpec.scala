package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the probe-corpus scan-parallelism guard (VERDICT r12 item 3).
  *
  * The round-12 instrument bug — a replicated corpus compressed into ONE
  * parquet part-file, so every pre-shuffle receipt measured a single
  * core — must be structurally impossible to reintroduce: Sentinel and
  * Bench call [[ProbeCorpus.assertScanParallel]] before recording
  * or gating anything. This spec pins that the guard actually rejects a
  * single-split layout and accepts the layout ProbeCorpus writes.
  */
class ProbeCorpusLayoutSpec extends AnyFunSuite {

  private def corpusWith(files: Map[String, Int]): java.io.File = {
    val root = Files.createTempDirectory("layout-spec").toFile
    root.deleteOnExit()
    files.foreach { case (table, n) =>
      val d = new java.io.File(root, s"$table.parquet")
      d.mkdirs()
      (0 until n).foreach { i =>
        Files.createFile(
          new java.io.File(d, f"part-$i%05d-spec.snappy.parquet").toPath)
      }
      Files.createFile(new java.io.File(d, "_SUCCESS").toPath)
    }
    root
  }

  test("a single-part-file replicated table is rejected") {
    val c = corpusWith(Map("documents" -> 1))
    val e = intercept[IllegalArgumentException] {
      ProbeCorpus.assertScanParallel(c.getPath)
    }
    assert(e.getMessage.contains("spans only 1 part-file"))
    assert(e.getMessage.contains("documents"))
  }

  test("just under the floor is rejected; at the floor passes") {
    val under = corpusWith(Map("embeddings" -> (ProbeCorpus.MinScanFiles - 1)))
    intercept[IllegalArgumentException] {
      ProbeCorpus.assertScanParallel(under.getPath)
    }
    val at = corpusWith(Map("embeddings" -> ProbeCorpus.MinScanFiles))
    ProbeCorpus.assertScanParallel(at.getPath)
  }

  test("ProbeCorpus's own 64-file fan-out passes for every replicated table") {
    val c = corpusWith(ProbeCorpus.ReplicatedTables.map(_ -> 64).toMap)
    ProbeCorpus.assertScanParallel(c.getPath)
  }

  test("absent tables and copied-through dimension tables are not checked") {
    // a tier-subset corpus (documents only) plus a single-file dimension
    // table must not trip the guard — only REPLICATED tables compress
    // into the single-split trap, and absent tables are the tier's choice
    val c = corpusWith(Map("documents" -> 64, "nation" -> 1))
    ProbeCorpus.assertScanParallel(c.getPath)
  }

  test("_SUCCESS and non-part files don't count toward the floor") {
    val c = corpusWith(Map("documents" -> 1))
    // pad with files that are not parquet part-files
    val d = new java.io.File(c, "documents.parquet")
    (0 until 20).foreach { i =>
      Files.createFile(new java.io.File(d, s"stray-$i.crc").toPath)
    }
    intercept[IllegalArgumentException] {
      ProbeCorpus.assertScanParallel(c.getPath)
    }
  }

  test("an explicit minFiles=1 (the deliberate-A/B escape hatch) passes") {
    val c = corpusWith(Map("documents" -> 1))
    ProbeCorpus.assertScanParallel(c.getPath, minFiles = 1)
  }
}
