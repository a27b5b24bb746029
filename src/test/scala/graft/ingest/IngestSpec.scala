package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class IngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("readStagedJson: nested payloads land as native structs") {
    val dir = java.nio.file.Files.createTempDirectory("staged")
    java.nio.file.Files.writeString(dir.resolve("page0.json"),
      """[{"id":1,"rating":{"rate":3.9,"count":120}},
         |{"id":2,"rating":{"rate":4.1,"count":8}}]""".stripMargin)
    val df = Ingest.readStagedJson(spark, Seq(dir.toString + "/page0.json"))
    assert(df.count() == 2)
    assert(df.select("rating.rate").collect().map(_.getDouble(0)).sorted
      .sameElements(Array(3.9, 4.1)))
  }

  test("fetchPaginated stops on short page and concatenates in order") {
    val data = (1 to 25).toSeq
    var calls = 0
    val out = Ingest.fetchPaginated(pageSize = 10) { (offset, limit) =>
      calls += 1
      data.slice(offset, offset + limit)
    }
    assert(out == data)
    assert(calls == 3) // 10 + 10 + 5(short -> stop)
  }

  test("retryWithBackoff retries with exponential delays then succeeds") {
    var attempts = 0
    var delays = Seq.empty[Long]
    val out = Ingest.retryWithBackoff(maxRetries = 3, baseDelayMs = 100,
      sleep = d => delays :+= d) { () =>
      attempts += 1
      if (attempts < 3) sys.error("transient") else "ok"
    }
    assert(out == "ok")
    assert(delays == Seq(100L, 200L))
  }

  test("retryWithBackoff rethrows after exhausting retries") {
    var attempts = 0
    intercept[RuntimeException] {
      Ingest.retryWithBackoff(maxRetries = 2, sleep = _ => ()) { () =>
        attempts += 1; sys.error("always")
      }
    }
    assert(attempts == 3) // initial + 2 retries
  }

  test("fetchParallel: optional failures dropped, required failures abort") {
    val ok = Ingest.fetchParallel(Seq(
      ("a", true, () => 1),
      ("b", false, () => sys.error("flaky"): Int)))
    assert(ok == Map("a" -> 1))
    intercept[IllegalStateException] {
      Ingest.fetchParallel(Seq(("a", true, () => sys.error("down"): Int)))
    }
  }

  test("fetchParallel: a fatal error in a source surfaces promptly as itself") {
    // required or optional, a StackOverflowError is not a source failure
    // the policy may wrap or drop: it must reach the caller unchanged,
    // without first waiting out any timeout
    for (required <- Seq(true, false)) {
      val t0 = System.nanoTime()
      val e = intercept[StackOverflowError] {
        Ingest.fetchParallel(Seq(
          ("a", true, () => 1),
          ("b", required, () => throw new StackOverflowError("deep"))))
      }
      assert(e.getMessage == "deep")
      assert((System.nanoTime() - t0) / 1e9 < 30)
    }
  }

  test("writeBatched sizes write tasks by rows-per-batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("batched").toString + "/t"
    val df = (1 to 100).toDF("n")
    Ingest.writeBatched(df, dir, rowsPerBatch = 25, totalRows = 100)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 4)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("jsonlWithQuarantine: clean/quarantine split, half-valid lines quarantined") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"id":1,"name":"ok"}
        |{"id":2,#broken
        |{"id":"not-a-number","name":"half"}
        |{"id":4,"name":"fine"}""".stripMargin)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("name", "string")
    val (clean, q) = Ingest.jsonlWithQuarantine(spark, dir, schema)
    val got = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "ok"), (4L, "fine")))
    val raws = q.collect().map(_.getString(0)).toSet
    assert(raws == Set("{\"id\":2,#broken",
      "{\"id\":\"not-a-number\",\"name\":\"half\"}"))
  }

  test("jsonlWithQuarantine: rejects a schema that claims __corrupt") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("__corrupt", "string")
    intercept[IllegalArgumentException] {
      Ingest.jsonlWithQuarantine(spark, "/nonexistent", schema)
    }
  }
}
