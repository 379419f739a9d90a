package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) document source — the de-facto
  * interchange format of LLM training corpora (every public dataset
  * ships as *.jsonl shards; the reference's directory walk ingests
  * files one-per-record, participants/implementations.kt:334-341, and
  * JSONL is how that arrives when documents are small).
  *
  * Scale posture: Spark's json source line-splits, so shards are
  * offset-SPLITTABLE (unlike gzip WARC) — the 100 TB read needs no
  * custom split logic at all, only the A19 error posture: a corrupt
  * line must cost one error row, never the shard. PERMISSIVE mode with
  * an explicit `_corrupt` column does exactly that; schema is supplied
  * (never inferred — inference is a second full read and a drift
  * hazard), and unknown extra fields are ignored (tolerant of the
  * schema drift real dataset shards accumulate).
  */
object Jsonl {

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("_corrupt", StringType)))

  /** Batch scan with per-line corruption isolation: good lines parse to
    * (id, lang, text); malformed lines surface as one row with
    * `_corrupt` carrying the raw line and every data column null. */
  def scan(spark: SparkSession, dir: String, glob: String = "*.jsonl"): DataFrame =
    spark.read
      .schema(DocSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("pathGlobFilter", glob)
      .json(dir)

  /** Streaming twin — newly-landed shards per micro-batch (the A4
    * re-walk shape, same parse + isolation semantics). */
  def scanStream(spark: SparkSession, dir: String, glob: String = "*.jsonl"): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("pathGlobFilter", glob)
      .json(dir)

  /** Deterministic JSONL corpus for the ingest query/specs: documents
    * with doc_id % 3 == 1, sharded 6 ways by doc_id, one JSON object per
    * line. Every doc_id % 33 == 1 line is written TRUNCATED (the classic
    * interrupted-upload shard tail) so the query exercises corrupt-line
    * isolation, and every doc_id % 7 == 1 line carries an extra `meta`
    * object the schema does not know — tolerant parsing must ignore it.
    * Document text is word-only (no quotes/backslashes), so lines need
    * no JSON escaping and the oracle can reconstruct every byte from the
    * generating table. Built once per run (Tables.buildOnce). */
  def ensureFixture(spark: SparkSession, sfDir: String): String =
    Tables.buildOnce("graft_jsonl_fixture", sfDir, "shards") { outStr =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outStr))
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("lang"), col("text"),
          (col("doc_id") % 6).as("shard"))
        .repartition(6, col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          var shard = -1L
          var w: java.io.BufferedWriter = null
          try {
            rows.foreach { r =>
              if (r.getLong(3) != shard) {
                if (w != null) w.close()
                shard = r.getLong(3)
                // UTF-8 explicitly: FileWriter uses the platform default
                // charset, which would corrupt non-ASCII text on a
                // non-UTF-8 JVM while scan() and the oracle read UTF-8
                w = java.nio.file.Files.newBufferedWriter(
                  java.nio.file.Paths.get(outStr, s"shard-$shard.jsonl"),
                  java.nio.charset.StandardCharsets.UTF_8)
              }
              val id = r.getLong(0)
              val extra = if (id % 7 == 1)
                s""","meta":{"crawl":"2026-01","rank":${id % 100}}""" else ""
              val line =
                s"""{"id":$id,"lang":"${r.getString(1)}","text":"${r.getString(2)}"$extra}"""
              if (id % 33 == 1) w.write(line.substring(0, line.length - 5))
              else w.write(line)
              w.newLine()
            }
          } finally if (w != null) w.close()
        }
    }
}
