package graft.etl

import graft.SparkSpec
import graft.etl.AsyncExport.{ExportFailed, PollResult}
import graft.etl.AsyncExport.PollResult._

import scala.collection.mutable.ArrayBuffer

/** The S5 acquisition state machine (reference onadata.py:93-144) with a
  * scripted transport: every test drives `downloadExport` through a fixed
  * response sequence and asserts the loop's observable behavior — URLs
  * polled (resume token), backoffs slept, refreshes invoked, and the
  * failure taxonomy.
  */
class AsyncExportSpec extends SparkSpec {

  private val base = "https://o/api/v1/forms/7/export_async.json?format=csv"

  /** Scripted poller: consumes `script` one response per call, recording
    * each URL it was polled with.
    */
  private def scripted(script: PollResult*): (ArrayBuffer[String], String => PollResult) = {
    val seen = ArrayBuffer.empty[String]
    val it = script.iterator
    (seen, { url => seen += url; it.next() })
  }

  test("happy path: in-progress polls back off linearly and resume by job_uuid") {
    val (urls, poll) = scripted(
      Accepted("PENDING", jobUuid = Some("J1")),
      Accepted("STARTED", jobUuid = Some("J1")),
      Accepted("SUCCESS", jobUuid = Some("J1"), exportUrl = Some("https://o/media/x.csv")))
    val sleeps = ArrayBuffer.empty[Long]
    val got = AsyncExport.downloadExport(base, poll,
      fetch = u => Some(s"/tmp/fetched_${u.hashCode}.csv"), sleeper = sleeps += _)
    assert(got.startsWith("/tmp/fetched_"))
    // reference backoff: 30 * (retries + 1) seconds (onadata.py:117)
    assert(sleeps.toSeq == Seq(30000L, 60000L))
    // first poll is the bare URL; every re-poll resumes the SAME job, and
    // the uuid is appended exactly once (no &job_uuid=J1&job_uuid=J1)
    assert(urls.toSeq == Seq(base, s"$base&job_uuid=J1", s"$base&job_uuid=J1"))
  }

  test("FAILURE surfaces the job's progress text") {
    val (_, poll) = scripted(
      Accepted("FAILURE", progress = Some("row 14: bad utf8")))
    val e = intercept[ExportFailed] {
      AsyncExport.downloadExport(base, poll, _ => None, _ => ())
    }
    assert(e.getMessage.contains("row 14: bad utf8"))
  }

  test("an export stuck in progress exhausts the poll budget") {
    val (urls, poll) = scripted(
      Accepted("PENDING"), Accepted("PENDING"), Accepted("PENDING"),
      Accepted("PENDING"))
    val e = intercept[ExportFailed] {
      AsyncExport.downloadExport(base, poll, _ => None, _ => ())
    }
    assert(e.getMessage.contains("took too long"))
    assert(urls.size == 4) // initial poll + maxPolls re-polls
  }

  test("401 refreshes the token once and restarts with a fresh poll budget") {
    val (_, poll) = scripted(
      Accepted("PENDING"), Accepted("PENDING"), // 2 of 3 re-polls spent
      TokenExpired,                             // restart resets the budget
      Accepted("PENDING"), Accepted("PENDING"), Accepted("PENDING"),
      Accepted("SUCCESS", exportUrl = Some("u")))
    var refreshed = 0
    val got = AsyncExport.downloadExport(base, poll, _ => Some("/tmp/ok.csv"),
      _ => (), refreshToken = () => refreshed += 1)
    assert(got == "/tmp/ok.csv" && refreshed == 1)
    // ... but a second 401 exceeds maxTokenRefreshes=1 (the reference
    // would recurse forever — onadata.py:127-130)
    val (_, poll2) = scripted(TokenExpired, TokenExpired)
    val e = intercept[ExportFailed] {
      AsyncExport.downloadExport(base, poll2, _ => None, _ => (),
        refreshToken = () => ())
    }
    assert(e.getMessage.contains("refresh loop"))
  }

  test("404 and other statuses are terminal") {
    val (_, p404) = scripted(NotFound)
    assert(intercept[ExportFailed] {
      AsyncExport.downloadExport(base, p404, _ => None, _ => ())
    }.getMessage.contains("404 not found"))
    val (_, p500) = scripted(HttpError(503))
    assert(intercept[ExportFailed] {
      AsyncExport.downloadExport(base, p500, _ => None, _ => ())
    }.getMessage.contains("status_code: 503"))
  }

  test("the export body fetch gets real retries (unlike the reference's dead guard)") {
    val (_, poll) = scripted(Accepted("SUCCESS", exportUrl = Some("u")))
    var attempts = 0
    val got = AsyncExport.downloadExport(base, poll,
      fetch = { _ => attempts += 1; if (attempts < 3) None else Some("/tmp/third.csv") },
      sleeper = _ => ())
    assert(got == "/tmp/third.csv" && attempts == 3)

    val (_, poll2) = scripted(Accepted("SUCCESS", exportUrl = Some("u")))
    var n = 0
    val e = intercept[ExportFailed] {
      AsyncExport.downloadExport(base, poll2, { _ => n += 1; None }, _ => ())
    }
    assert(n == 3 && e.getMessage.contains("after 3 attempts"))
  }

  test("withRetry retries only the forcelist with urllib3's backoff curve") {
    val sleeps = ArrayBuffer.empty[Long]
    var codes = List(503, 502, 200)
    val out = AsyncExport.withRetry { () =>
      val c = codes.head; codes = codes.tail; c
    }(retryable = c => Set(500, 502, 503, 504)(c), sleeper = sleeps += _)
    assert(out == 200)
    // backoff_factor * 2^attempt seconds: 1.1s, 2.2s
    assert(sleeps.toSeq == Seq(1100L, 2200L))
    // a non-forcelist failure is NOT retried
    var calls = 0
    val bad = AsyncExport.withRetry { () => calls += 1; 400 }(
      retryable = c => Set(500, 502, 503, 504)(c), sleeper = _ => ())
    assert(bad == 400 && calls == 1)
    // budget exhaustion returns the last result for caller-side handling
    var always = 0
    val worn = AsyncExport.withRetry { () => always += 1; 503 }(
      retryable = c => Set(500, 502, 503, 504)(c), sleeper = _ => ())
    assert(worn == 503 && always == 4) // initial + 3 retries
  }

  test("syncExport: acquired CSV lands as a typed, null-normalized extract") {
    val dir = java.nio.file.Files.createTempDirectory("asyncexp")
    val csv = dir.resolve("export.csv")
    java.nio.file.Files.write(csv,
      "id,score,name\n1,2.5,alice\n2,n/a,\n3,4.0,carol\n".getBytes)
    val (_, poll) = scripted(
      Accepted("PENDING", jobUuid = Some("J9")),
      Accepted("SUCCESS", exportUrl = Some("https://o/media/export.csv")))
    val n = AsyncExport.syncExport(spark, base, poll,
      fetch = _ => Some(csv.toString), sleeper = _ => (),
      extractPath = s"$dir/extract")
    assert(n == 3L)
    val out = spark.read.parquet(s"$dir/extract")
    // type policy: int -> long, float -> double, strings stay; sentinels null
    assert(out.schema("id").dataType.typeName == "long")
    assert(out.schema("score").dataType.typeName == "double")
    assert(out.where("score IS NULL").count() == 1L)
    assert(out.where("name IS NULL").count() == 1L)
  }

  test("syncExport launches exactly three jobs: header, inference, write") {
    // the imported-row count comes from the write itself; reading the
    // extract back to count it was two more jobs per sync
    val dir = java.nio.file.Files.createTempDirectory("asyncjobs")
    val csv = dir.resolve("export.csv")
    java.nio.file.Files.write(csv, "id,score,name\n1,2.5,alice\n2,n/a,\n".getBytes)
    val poll = (_: String) => Accepted("SUCCESS", exportUrl = Some(csv.toString))
    def sync(): Long = AsyncExport.syncExport(spark, base, poll,
      fetch = p => Some(p), sleeper = _ => (), extractPath = s"$dir/extract")
    sync() // a first sync of the extract, then the pinned re-sync
    val (n, jobs) = jobsDuring(sync())
    assert(n == 2L)
    assert(jobs == 3L, s"a sync launched $jobs Spark jobs")
  }
}
