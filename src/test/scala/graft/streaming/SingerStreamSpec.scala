package graft.streaming

import graft.TestSpark
import graft.pipeline.{IngestResult, SingerConfig, SingerPipeline}
import graft.schema.SchemaMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Try

class SingerStreamSpec extends AnyFunSuite with Matchers
    with graft.CleanSessionCheck {
  private lazy val spark = TestSpark.init()

  test("streaming ingest: micro-batches append per-stream parquet with the same coercions") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/batch1.jsonl"),
      """{"type": "RECORD", "stream": "m", "record": {"id": "a", "n": "1"}}
        |{"type": "RECORD", "stream": "m", "record": {"id": "b", "n": 2}}
        |{"type": "STATE", "value": {"bookmarks": {"m": {"id": "b"}}}}
        |""".stripMargin)
    val schemas = Map("m" -> SchemaMapper.fromSchemaMessage(
      """{"type": "SCHEMA", "stream": "m", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "n": {"type": ["integer", "null"]}}}, "key_properties": ["id"]}"""))
    val q = SingerStream.start(
      spark, s"$dir/in", schemas, SingerConfig(s"$dir/out"), s"$dir/chk")
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$dir/out/m.parquet")
    out.schema("n").dataType.typeName shouldBe "long"
    out.count() shouldBe 2
    // STATE passthrough: batch's last state value lands in state.json
    Files.readString(java.nio.file.Paths.get(s"$dir/out/state.json")) shouldBe
      """{"bookmarks":{"m":{"id":"b"}}}"""
    // second file appears -> next incremental run picks up only the delta
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/batch2.jsonl"),
      """{"type": "RECORD", "stream": "m", "record": {"id": "c", "n": 3}}""" + "\n")
    val q2 = SingerStream.start(
      spark, s"$dir/in", schemas, SingerConfig(s"$dir/out"), s"$dir/chk")
    q2.awaitTermination(60000)
    spark.read.parquet(s"$dir/out/m.parquet").count() shouldBe 3
    // metrics recomputed from per-batch files across both runs (A1),
    // idempotent under batch replay
    Files.readString(java.nio.file.Paths.get(s"$dir/out/job_metrics.json")) shouldBe
      """{"recordCount":{"m":3}}"""
  }

  // ── batch/stream parity: the same input and config through
  // SingerPipeline.run and one SingerStream drain must agree ──────────

  /** Writes `lines` as one input file, ingests it in batch (output under
    * `batch/`) and drains it as a stream (output under `stream/`).
    */
  private def ingestBoth(
      lines: Seq[String],
      schemaMessages: Seq[String],
      config: String => SingerConfig): (Try[IngestResult], Try[Path]) = {
    val dir = Files.createTempDirectory("graft-parity")
    val in = Files.createDirectories(dir.resolve("in"))
    Files.writeString(in.resolve("input.jsonl"), lines.mkString("", "\n", "\n"))
    val batch = Try(SingerPipeline.run(spark, in.toString, config(s"$dir/batch")))
    val schemas = schemaMessages.map(SchemaMapper.fromSchemaMessage).map(ss => ss.stream -> ss).toMap
    val stream = Try {
      val q = SingerStream.start(
        spark, in.toString, schemas, config(s"$dir/stream"), s"$dir/chk")
      assert(q.awaitTermination(60000), "stream drain timed out")
      dir.resolve("stream")
    }
    (batch, stream)
  }

  /** Every message in the cause chain: the stream wraps the batch's
    * failure in a StreamingQueryException.
    */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("batch/stream parity: strict + required date-time, malformed value is accepted and written as null") {
    val schema =
      """{"type": "SCHEMA", "stream": "dt", "schema": {"type": "object", "required": ["ts"], "properties": {"id": {"type": ["string", "null"]}, "ts": {"type": "string", "format": "date-time"}}}, "key_properties": ["id"]}"""
    val malformed = """{"type": "RECORD", "stream": "dt", "record": {"id": "1", "ts": "not-a-date"}}"""
    val (batch, stream) = ingestBoth(Seq(schema, malformed), Seq(schema),
      SingerConfig(_, strictValidation = true))
    val res = batch.get
    res.recordCounts shouldBe Map("dt" -> 1L)
    spark.read.parquet(res.paths("dt")).select("ts").head.isNullAt(0) shouldBe true
    val out = spark.read.parquet(stream.get.resolve("dt.parquet").toString)
    out.count() shouldBe 1
    out.select("ts").head.isNullAt(0) shouldBe true
  }

  test("batch/stream parity: strict + uniqueItems violation raises in both") {
    val schema =
      """{"type": "SCHEMA", "stream": "rv", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "tags": {"type": ["array", "null"], "uniqueItems": true}}}, "key_properties": ["id"]}"""
    val bad = """{"type": "RECORD", "stream": "rv", "record": {"id": "2", "tags": ["a", "a"]}}"""
    val (batch, stream) = ingestBoth(Seq(schema, bad), Seq(schema),
      SingerConfig(_, strictValidation = true))
    batch.isFailure shouldBe true
    messages(batch.failed.get) should include("$.tags: uniqueItems")
    stream.isFailure shouldBe true
    messages(stream.failed.get) should include("$.tags: uniqueItems")
  }

  test("batch/stream parity: compression and partitionBy apply to both") {
    val schema =
      """{"type": "SCHEMA", "stream": "users", "schema": {"type": "object", "properties": {"id": {"type": ["string", "null"]}, "name": {"type": ["string", "null"]}}}, "key_properties": ["id"]}"""
    val records = Seq(
      """{"type": "RECORD", "stream": "users", "record": {"id": "u1", "name": "alice"}}""",
      """{"type": "RECORD", "stream": "users", "record": {"id": "u2", "name": "bob"}}""",
      """{"type": "RECORD", "stream": "users", "record": {"id": "u3", "name": "alice"}}""")
    val (batch, stream) = ingestBoth(schema +: records, Seq(schema),
      SingerConfig(_, compression = Some("zstd"), partitionBy = Map("users" -> Seq("name"))))
    def partFiles(root: String): Seq[Path] = {
      val walk = Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter { p =>
        val f = p.getFileName.toString
        f.startsWith("part-") && f.endsWith(".parquet")
      }.toVector
      finally walk.close()
    }
    for (root <- Seq(batch.get.paths("users"), stream.get.resolve("users.parquet").toString)) {
      val files = partFiles(root)
      files should not be empty
      all(files.map(_.getFileName.toString)) should include(".zstd.")
      files.map(_.getParent.getFileName.toString).toSet shouldBe Set("name=alice", "name=bob")
      spark.read.parquet(root).count() shouldBe 3
    }
  }
}
