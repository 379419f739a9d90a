package graft

import java.nio.file.Files
import graft.sources.{DirectoryIngest, Jsonl, Tables, Warc}

/** The build-once artifact discipline (`Tables.buildOnce`): derived
  * on-disk inputs are scoped to one run and cleaned up after it. */
class TablesSpec extends SparkSpec {

  test("ingest fixtures are built under the run-scoped artifact root") {
    // a fixed /tmp path outlives the process and is shared by every run;
    // the run-scoped root carries the per-process token and is deleted
    // by the shutdown hook
    def runRoot(root: String): String =
      new java.io.File(Tables.artifactDir(root, sf(), "_")).getParent + "/"
    val built = Seq(
      "graft_warc_fixture" -> Warc.ensureFixture(spark, sf()),
      "graft_html_fixture" -> Warc.ensureHtmlFixture(spark, sf()),
      "graft_jsonl_fixture" -> Jsonl.ensureFixture(spark, sf()),
      "graft_ingest_fixture" -> DirectoryIngest.ensureFixture(spark, sf()),
      "graft_ingest_fixture" -> DirectoryIngest.ensureBinaryFixture(spark, sf()),
      "graft_ingest_fixture" -> DirectoryIngest.ensureZipFixture(spark, sf()),
      "graft_ingest_fixture" -> DirectoryIngest.ensurePdfFixture(spark, sf()))
    for ((root, path) <- built) {
      assert(path.startsWith(runRoot(root)), s"$path is not under ${runRoot(root)}")
      assert(new java.io.File(path).list().exists(_ != "_COMPLETE"),
        s"$path holds no fixture files")
    }
    assert(built.map(_._2).distinct.size == built.size, "two fixtures share a directory")
  }

  test("run-tree cleanup removes an emptied root and keeps one another run still uses") {
    val root = Files.createTempDirectory("graft_cleanup_root")
    val runA = root.resolve("corpus_aaaa")
    val runB = root.resolve("corpus_bbbb")
    Files.createDirectories(runA.resolve("index/bucket=1"))
    Files.write(runA.resolve("index/bucket=1/part-0.parquet"), Array[Byte](1, 2))
    Files.write(runA.resolve("index/_COMPLETE"), Array.emptyByteArray)
    Files.createDirectories(runB.resolve("index"))
    Files.write(runB.resolve("index/_COMPLETE"), Array.emptyByteArray)

    Tables.deleteRunTree(runA.toString)
    assert(!Files.exists(runA), "the run subtree must be deleted")
    assert(Files.exists(runB.resolve("index/_COMPLETE")),
      "a root another run still uses must keep that run's tree")

    Tables.deleteRunTree(runB.toString)
    assert(!Files.exists(root), "the emptied root must be removed")
  }
}
