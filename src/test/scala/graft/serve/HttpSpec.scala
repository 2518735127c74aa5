package graft.serve

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import graft.SparkSpec
import graft.catalog.{ConfigMeta, FileStatus, HyperFileMeta, MetaKeys, MetaStore, ServerMeta}

/** End-to-end spec for the thin HTTP shell: every route of [[Serve]]
  * driven over a real socket against a temp catalog — auth, list with
  * form_id filter + pagination defaults, 400 on a bad form_id, detail,
  * the hyper-format 307 redirect, 404s, and the sync trigger's 200/202
  * in-flight guard (reference semantics: file.py:42-114, 164-201).
  */
class HttpSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val Token = "secret-token"

  /** (status, body, Location header) for a request against this spec's server. */
  private def request(port: Int, path: String, method: String = "GET",
                      token: String = Token): (Int, String, Option[String]) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setInstanceFollowRedirects(false) // we assert on the 307 itself
    if (token.nonEmpty) conn.setRequestProperty("Authorization", s"Bearer $token")
    if (method == "POST") { conn.setDoOutput(true); conn.getOutputStream.close() }
    val status = conn.getResponseCode
    val stream = Option(if (status >= 400) conn.getErrorStream else conn.getInputStream)
    val body = stream.map { in =>
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }.getOrElse("")
    (status, body, Option(conn.getHeaderField("Location")))
  }

  /** Body-carrying request via java.net.http (HttpURLConnection cannot
    * send PATCH). Returns (status, body).
    */
  private def bodyRequest(port: Int, path: String, method: String,
                          body: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(new URI(s"http://127.0.0.1:$port$path"))
      .header("Authorization", s"Bearer $Token")
      .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withServer(test: (Int, MetaStore, collection.mutable.Buffer[Long]) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("serve_catalog").toString
    val store = new MetaStore(spark, root)
    store.initHyperFiles(
      // 120 files for form 100 (pagination past the 100 default), one
      // queued file for the 202 guard, one inactive file
      (1L to 120L).map(i =>
        HyperFileMeta(i, i, 100L, s"f$i.parquet", FileStatus.FileAvailable,
          isActive = true, Map(MetaKeys.SyncFailures -> "0"),
          ts("2024-01-01 00:00:00"))) ++ Seq(
        HyperFileMeta(200L, 11L, 200L, "queued.parquet", FileStatus.Queued,
          isActive = true, Map.empty, ts("2024-01-01 00:00:00")),
        HyperFileMeta(201L, 12L, 300L, "dead.parquet", FileStatus.FileUnavailable,
          isActive = false, Map.empty, ts("2024-01-01 00:00:00"))))
    store.initServers(Seq(ServerMeta(1L, "https://ona.example.org")))
    store.initConfigs(Seq(
      ConfigMeta(1L, 10L, "https://tableau.example.org", "pat-a", Map("project" -> "alpha"))))
    val synced = collection.mutable.Buffer.empty[Long]
    deleted.clear()
    val serve = new Serve(spark, store, Token,
      sync = id => synced += id,
      downloadPath = f => s"/extracts/${f.formId}/${f.filename}",
      onDelete = f => deleted += f.id,
      clock = () => ts("2024-06-01 00:00:00"))
    val port = serve.start()
    try test(port, store, synced) finally serve.stop()
  }

  private val deleted = collection.mutable.Buffer.empty[Long]

  test("start() refuses a double start; stop() then start() rebinds cleanly") {
    // a second start() without stop() would silently orphan the running
    // server and leak its 8-thread pool — it must throw instead; after a
    // stop() the same instance may start again on a fresh port
    val root = java.nio.file.Files.createTempDirectory("serve_restart").toString
    val store = new MetaStore(spark, root)
    store.initHyperFiles(Seq.empty)
    val serve = new Serve(spark, store, Token,
      sync = _ => (), downloadPath = _ => "/x", onDelete = _ => (),
      clock = () => ts("2024-06-01 00:00:00"))
    val p1 = serve.start()
    try {
      val e = intercept[IllegalArgumentException](serve.start())
      assert(e.getMessage.contains("already running"))
      // the original server is still serving after the refused start
      val (s, _, _) = request(p1, "/health", token = "")
      assert(s == 200)
    } finally serve.stop()
    val p2 = serve.start()
    try {
      val (s, _, _) = request(p2, "/health", token = "")
      assert(s == 200)
    } finally serve.stop()
  }

  test("auth: missing or wrong bearer token is 403 Not authenticated") {
    withServer { (port, _, _) =>
      val (s1, b1, _) = request(port, "/api/v1/files", token = "")
      assert(s1 == 403 && b1.contains("Not authenticated"))
      val (s2, _, _) = request(port, "/api/v1/files/1", token = "wrong")
      assert(s2 == 403)
    }
  }

  test("list: default pagination is skip=0 limit=100 over id order") {
    withServer { (port, _, _) =>
      val (s, body, _) = request(port, "/api/v1/files")
      assert(s == 200)
      val ids = """"id":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(ids.size == 100 && ids == (1L to 100L)) // 122 rows, capped at 100
      val (_, page2, _) = request(port, "/api/v1/files?skip=100&limit=100")
      val ids2 = """"id":(\d+)""".r.findAllMatchIn(page2).map(_.group(1).toLong).toSeq
      assert(ids2 == ((101L to 120L) ++ Seq(200L, 201L)))
    }
  }

  test("list: form_id filters; non-numeric form_id is 400") {
    withServer { (port, _, _) =>
      val (s, body, _) = request(port, "/api/v1/files?form_id=200")
      assert(s == 200)
      assert(body.contains(""""id":200""") && !body.contains(""""id":201"""))
      val (s2, b2, _) = request(port, "/api/v1/files?form_id=abc")
      assert(s2 == 400 && b2.contains("Invalid form_id provided: abc"))
    }
  }

  test("detail: JSON body with url/download_url; unknown id is 404") {
    withServer { (port, _, _) =>
      val (s, body, _) = request(port, "/api/v1/files/200")
      assert(s == 200)
      assert(body.contains(""""filename":"queued.parquet""""))
      assert(body.contains(""""file_status":"queued""""))
      assert(body.contains(""""download_url":"/api/v1/files/200?file_format=hyper""""))
      val (s2, b2, _) = request(port, "/api/v1/files/99999")
      assert(s2 == 404 && b2.contains("File not found."))
      val (s3, _, _) = request(port, "/api/v1/files/not-a-number")
      assert(s3 == 404)
    }
  }

  test("download: file_format=hyper answers 307 with the extract path") {
    withServer { (port, _, _) =>
      val (s, _, loc) = request(port, "/api/v1/files/5?file_format=hyper")
      assert(s == 307)
      assert(loc.contains("/extracts/100/f5.parquet"))
    }
  }

  test("sync: 200 triggers the body once; queued/syncing file answers 202 untriggered") {
    withServer { (port, _, synced) =>
      val (s, body, _) = request(port, "/api/v1/files/1/sync", method = "POST")
      assert(s == 200 && body.contains("File syncing is currently on-going"))
      assert(synced.toSeq == Seq(1L))
      // id=200 is queued: in-flight guard answers 202 and does NOT run sync
      val (s2, _, _) = request(port, "/api/v1/files/200/sync", method = "POST")
      assert(s2 == 202)
      assert(synced.toSeq == Seq(1L))
      // GET on the sync route is not a route
      val (s3, _, _) = request(port, "/api/v1/files/1/sync")
      assert(s3 == 404)
    }
  }

  test("create: 201 + row, duplicate (user_id, form_id) answers 200 with the EXISTING row") {
    withServer { (port, store, synced) =>
      val (s, body) = bodyRequest(port, "/api/v1/files", "POST",
        """{"user_id": 50, "form_id": 500, "filename": "new.parquet", "sync_immediately": true}""")
      assert(s == 201, s"body: $body")
      assert(body.contains(""""filename":"new.parquet""""))
      assert(body.contains(""""file_status":"queued""""))
      val id = """"id":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
      assert(id == 202L) // max existing id 201 + 1
      assert(synced.toSeq == Seq(id)) // sync_immediately ran for the new row
      // duplicate key: the existing row wins, no sync, 200
      val (s2, b2) = bodyRequest(port, "/api/v1/files", "POST",
        """{"user_id": 50, "form_id": 500, "filename": "clobber.parquet"}""")
      assert(s2 == 200)
      assert(b2.contains(""""filename":"new.parquet"""")) // preserved verbatim
      assert(synced.toSeq == Seq(id))
      // missing fields: 400
      val (s3, _) = bodyRequest(port, "/api/v1/files", "POST", """{"form_id": 1}""")
      assert(s3 == 400)
    }
  }

  test("patch: renames and re-attaches a VALIDATED configuration; unknown id is 404") {
    withServer { (port, store, _) =>
      // file 10 belongs to user 10, who owns config 1
      val (s, body) = bodyRequest(port, "/api/v1/files/10", "PATCH",
        """{"filename": "renamed.parquet", "configuration_id": 1}""")
      assert(s == 200)
      assert(body.contains(""""filename":"renamed.parquet""""))
      val row = store.readHyperFiles().filter(_.id == 10L).head()
      assert(row.filename == "renamed.parquet")
      assert(row.metaData.get("configuration-id").contains("1"))
      assert(row.lastUpdated == ts("2024-06-01 00:00:00"))
      // a dangling config id, a foreign user's config, and a non-numeric
      // value are all the 400, never silently stored
      val (s2, b2) = bodyRequest(port, "/api/v1/files/5", "PATCH",
        """{"configuration_id": 7}""")
      assert(s2 == 400 && b2.contains("Configuration not found with given ID"))
      val (s3, _) = bodyRequest(port, "/api/v1/files/5", "PATCH",
        """{"configuration_id": 1}""") // config 1 is user 10's, file 5 is user 5's
      assert(s3 == 400)
      val (s4, _) = bodyRequest(port, "/api/v1/files/99999", "PATCH", """{"filename":"x"}""")
      assert(s4 == 404)
    }
  }

  test("list: empty/overflowing form_id and non-numeric skip/limit are 400, not 500") {
    withServer { (port, _, _) =>
      assert(request(port, "/api/v1/files?form_id=")._1 == 400)
      assert(request(port, "/api/v1/files?form_id=99999999999999999999")._1 == 400)
      val (s, body, _) = request(port, "/api/v1/files?skip=abc")
      assert(s == 400 && body.contains("Invalid skip provided: abc"))
      assert(request(port, "/api/v1/files?limit=1e3")._1 == 400)
      assert(request(port, "/api/v1/files?limit=-5")._1 == 400)
      assert(request(port, "/api/v1/files?skip=-1")._1 == 400)
    }
  }

  test("a bearer token minted by the OAuth callback authenticates API requests") {
    withServer { (port, store, _) =>
      store.initUsers(Seq(graft.catalog.UserMeta(42L, "alice", 1L)))
      val minted = OAuth.accessToken(Token, 42L)
      val (s, _, _) = request(port, "/api/v1/files/1", token = minted)
      assert(s == 200)
      // a token for an UNREGISTERED user id does not pass
      val forged = OAuth.accessToken(Token, 43L)
      assert(request(port, "/api/v1/files/1", token = forged)._1 == 403)
    }
  }

  test("server create normalizes trailing slash so OAuth login finds the row") {
    withServer { (port, _, _) =>
      val (s, body) = bodyRequest(port, "/api/v1/servers", "POST",
        """{"url": "https://slashy.example.org/"}""")
      assert(s == 201 && body.contains(""""url":"https://slashy.example.org""""))
      // login with either spelling resolves the same registered server
      val (s2, _, loc) = request(port,
        "/api/v1/oauth/login?server_url=https%3A%2F%2Fslashy.example.org%2F", token = "")
      assert(s2 == 302)
      assert(loc.get.startsWith("https://slashy.example.org/o/authorize?"))
    }
  }

  test("create pipeline guards: form fetch failure, encrypted forms, title naming, config ownership") {
    withServer { (port, store, _) =>
      // dedicated server with an injected form-metadata fetch
      val metaServe = new Serve(spark, store, Token,
        sync = _ => (), downloadPath = _ => "/x",
        clock = () => ts("2024-06-01 00:00:00"),
        formMeta = {
          case 900L => Map("title" -> "Household Survey")
          case 901L => Map("title" -> "Secret", "public_key" -> "PEM")
          case id => sys.error(s"HTTP 404 on form $id")
        })
      val p2 = metaServe.start()
      try {
        // failed fetch → the reference's 400 with the form id in the detail
        val (s1, b1) = bodyRequest(p2, "/api/v1/files", "POST",
          """{"user_id": 60, "form_id": 123}""")
        assert(s1 == 400 && b1.contains("Error retrieving form 123"))
        // encrypted form → rejected
        val (s2, b2) = bodyRequest(p2, "/api/v1/files", "POST",
          """{"user_id": 60, "form_id": 901}""")
        assert(s2 == 400 && b2.contains("Encrypted forms are not supported"))
        // clean form: extract named from the form title
        val (s3, b3) = bodyRequest(p2, "/api/v1/files", "POST",
          """{"user_id": 60, "form_id": 900}""")
        assert(s3 == 201 && b3.contains(""""filename":"Household Survey.parquet""""))
        // configuration must exist AND belong to the requesting user
        val (s4, b4) = bodyRequest(p2, "/api/v1/files", "POST",
          """{"user_id": 61, "form_id": 900, "configuration_id": 1}""")
        assert(s4 == 400 && b4.contains("Configuration not found with given ID"))
        // config 1 belongs to user 10: accepted and recorded
        val (s5, _) = bodyRequest(p2, "/api/v1/files", "POST",
          """{"user_id": 10, "form_id": 900, "configuration_id": 1}""")
        assert(s5 == 201)
        val created = store.readHyperFiles()
          .filter(f => f.userId == 10L && f.formId == 900L).head()
        assert(created.metaData.get("configuration-id").contains("1"))
      } finally metaServe.stop()
    }
  }

  test("server registry: list, detail, create-or-get under unique url") {
    withServer { (port, _, _) =>
      val (s, body, _) = request(port, "/api/v1/servers")
      assert(s == 200 && body.contains("https://ona.example.org"))
      val (s2, b2) = bodyRequest(port, "/api/v1/servers", "POST",
        """{"url": "https://other.example.org"}""")
      assert(s2 == 201 && b2.contains(""""id":2"""))
      // same url again: the existing row, not a duplicate
      val (s3, b3) = bodyRequest(port, "/api/v1/servers", "POST",
        """{"url": "https://other.example.org"}""")
      assert(s3 == 200 && b3.contains(""""id":2"""))
      val (s4, b4, _) = request(port, "/api/v1/servers/1")
      assert(s4 == 200 && b4.contains("ona.example.org"))
      assert(request(port, "/api/v1/servers/9")._1 == 404)
      assert(request(port, "/api/v1/servers", token = "")._1 == 403)
    }
  }

  test("configuration registry: full CRUD under the composite unique key") {
    withServer { (port, store, _) =>
      val (s, body, _) = request(port, "/api/v1/configurations")
      assert(s == 200 && body.contains(""""token_name":"pat-a""""))
      assert(body.contains(""""export_settings":{"project":"alpha"}"""))
      val (s2, b2) = bodyRequest(port, "/api/v1/configurations", "POST",
        """{"user_id": 11, "server_address": "https://tableau.example.org", "token_name": "pat-b"}""")
      assert(s2 == 201 && b2.contains(""""id":2"""))
      // duplicate composite key answers the existing row
      val (s3, b3) = bodyRequest(port, "/api/v1/configurations", "POST",
        """{"user_id": 11, "server_address": "https://tableau.example.org", "token_name": "pat-b"}""")
      assert(s3 == 200 && b3.contains(""""id":2"""))
      // PATCH token rename
      val (s4, b4) = bodyRequest(port, "/api/v1/configurations/2", "PATCH",
        """{"token_name": "pat-b2"}""")
      assert(s4 == 200 && b4.contains(""""token_name":"pat-b2""""))
      assert(store.readConfigs().filter(_.id == 2L).head().tokenName == "pat-b2")
      // DELETE then 404
      assert(bodyRequest(port, "/api/v1/configurations/2", "DELETE", "")._1 == 204)
      assert(request(port, "/api/v1/configurations/2")._1 == 404)
      // missing fields: 400
      assert(bodyRequest(port, "/api/v1/configurations", "POST", """{"user_id":1}""")._1 == 400)
    }
  }

  test("oauth: login 302 with state; callback exchanges once; TTL + single-use enforced") {
    withServer { (port, store, _) =>
      store.initUsers(Seq.empty)
      var now = ts("2024-06-01 00:00:00")
      var nKeys = 0
      val exchanged = collection.mutable.Buffer.empty[String]
      val oserve = new Serve(spark, store, Token,
        sync = _ => (), downloadPath = _ => "/x",
        clock = () => now,
        newStateKey = () => { nKeys += 1; s"state-$nKeys" },
        exchange = (srv, code) =>
          if (code == "bad") throw graft.serve.OAuth.CredentialsError("code rejected")
          else { exchanged += code; (s"tok-$code", "refresh") },
        profile = tok =>
          if (tok == "tok-profile-dies") sys.error("profile api down")
          else "alice")
      val p2 = oserve.start()
      try {
        // unknown server: 400
        val (s0, b0, _) = request(p2,
          "/api/v1/oauth/login?server_url=https%3A%2F%2Funknown.example.org", token = "")
        assert(s0 == 400 && b0.contains("Server not configured"))
        // login: 302 to the provider with the issued state
        val (s1, _, loc) = request(p2,
          "/api/v1/oauth/login?server_url=https%3A%2F%2Fona.example.org", token = "")
        assert(s1 == 302)
        assert(loc.get.startsWith("https://ona.example.org/o/authorize?"))
        assert(loc.get.contains("state=state-1"))
        // callback with that state: exchange runs, token minted, user upserted
        val (s2, b2, _) = request(p2,
          "/api/v1/oauth/callback?code=c1&state=state-1", token = "")
        assert(s2 == 200 && b2.contains(""""token_type":"bearer""""))
        assert(exchanged.toSeq == Seq("c1"))
        val u = store.readUsers().collect()
        assert(u.map(x => (x.username, x.serverId)).toSeq == Seq(("alice", 1L)))
        // the state was single-use: replay is 401
        val (s3, b3, _) = request(p2,
          "/api/v1/oauth/callback?code=c1&state=state-1", token = "")
        assert(s3 == 401 && b3.contains("Authorization state can not be confirmed."))
        // TTL: a state older than 5 minutes is dead
        request(p2, "/api/v1/oauth/login?server_url=https%3A%2F%2Fona.example.org",
          token = "")
        now = ts("2024-06-01 00:05:01")
        val (s4, _, _) = request(p2,
          "/api/v1/oauth/callback?code=c2&state=state-2", token = "")
        assert(s4 == 401)
        // a rejected code is the 400 branch; a dead profile API is 502
        request(p2, "/api/v1/oauth/login?server_url=https%3A%2F%2Fona.example.org",
          token = "")
        val (s5, b5, _) = request(p2,
          "/api/v1/oauth/callback?code=bad&state=state-3", token = "")
        assert(s5 == 400 && b5.contains("code rejected"))
        request(p2, "/api/v1/oauth/login?server_url=https%3A%2F%2Fona.example.org",
          token = "")
        val (s6, _, _) = request(p2,
          "/api/v1/oauth/callback?code=profile-dies&state=state-4", token = "")
        assert(s6 == 502)
        // redirect_url round trip: callback answers 302 to it WITH the
        // session cookie carrying the credential — a redirect_url whose
        // encoded form contains & and = must survive the query parse
        request(p2, "/api/v1/oauth/login?server_url=https%3A%2F%2Fona.example.org" +
          "&redirect_url=https%3A%2F%2Fapp.example.org%2Fcb%3Fa%3D1%26b%3D2", token = "")
        val conn7 = new URI(s"http://127.0.0.1:$p2/api/v1/oauth/callback?code=c3&state=state-5")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        conn7.setInstanceFollowRedirects(false)
        assert(conn7.getResponseCode == 302)
        assert(conn7.getHeaderField("Location") == "https://app.example.org/cb?a=1&b=2")
        val cookie = conn7.getHeaderField("Set-Cookie")
        assert(cookie != null && cookie.startsWith("graft_session="))
        // the cookie IS a working credential on the API
        val minted = cookie.stripPrefix("graft_session=").split(";")(0)
        val connC = new URI(s"http://127.0.0.1:$p2/api/v1/files/1").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        connC.setRequestProperty("Cookie", s"graft_session=$minted")
        assert(connC.getResponseCode == 200)
      } finally oserve.stop()
    }
  }

  test("health + app info routes") {
    withServer { (port, _, _) =>
      val (s, body, _) = request(port, "/health", token = "")
      assert(s == 200 && body.contains(""""database":"ok""""))
      val (s2, b2, _) = request(port, "/", token = "")
      assert(s2 == 200 && b2.contains(""""app_name":"graft""""))
      assert(request(port, "/nothing-here", token = "")._1 == 404)
    }
  }

  test("sync route drives the REAL Streams.syncTick body end to end") {
    // production composition, not a stub: POST {id}/sync runs the full
    // import loop — drain the CSV landing dir, refresh the parquet
    // extract, record success in the catalog (file_available, counter 0)
    withServer { (port, store, _) =>
      val landing = java.nio.file.Files.createTempDirectory("serve_landing").toString
      val extract = java.nio.file.Files.createTempDirectory("serve_extract").toString + "/ex"
      val ckpt = java.nio.file.Files.createTempDirectory("serve_ckpt").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(landing, "export1.csv"), "id,name\n1,a\n2,b\n3,c\n")
      val realServe = new Serve(spark, store, Token,
        sync = id => graft.streaming.Streams.syncTick(
          spark, landing, "id LONG, name STRING", extract, ckpt,
          store, id, ts("2024-07-01 00:00:00")).awaitTermination(),
        downloadPath = _ => extract)
      val p2 = realServe.start()
      try {
        val (s, _, _) = request(p2, "/api/v1/files/1/sync", method = "POST")
        assert(s == 200)
        assert(spark.read.parquet(extract).count() == 3)
        val f = store.readHyperFiles().filter(_.id == 1L).head()
        assert(f.fileStatus == FileStatus.FileAvailable)
        assert(f.metaData.get(MetaKeys.SyncFailures).contains("0"))
      } finally realServe.stop()
    }
  }

  test("catalog snapshot cache: cached GETs launch zero Spark jobs; writes invalidate") {
    withServer { (port, _, _) =>
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      def drain(): Unit =
        org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        // warm: first request per table loads its snapshot (jobs expected)
        assert(request(port, "/api/v1/files")._1 == 200)
        assert(request(port, "/api/v1/servers")._1 == 200)
        drain(); jobs.set(0)
        // cached: list, detail, and a 404 probe — ZERO Spark jobs
        assert(request(port, "/api/v1/files")._1 == 200)
        assert(request(port, "/api/v1/files/1")._1 == 200)
        assert(request(port, "/api/v1/files/99999")._1 == 404)
        assert(request(port, "/api/v1/servers")._1 == 200)
        drain()
        assert(jobs.get == 0, s"cached GETs launched ${jobs.get} Spark jobs")
        // a write through the store invalidates: the PATCH commits and
        // re-reads the catalog (its response renders from the reloaded
        // snapshot), and subsequent GETs serve the NEW state job-free
        jobs.set(0)
        val (ps, _) = bodyRequest(port, "/api/v1/files/1", "PATCH",
          """{"filename":"renamed.parquet"}""")
        assert(ps == 200)
        drain()
        assert(jobs.get > 0, "the write path must hit the real catalog")
        jobs.set(0)
        val (gs, gb, _) = request(port, "/api/v1/files/1")
        assert(gs == 200 && gb.contains("renamed.parquet"), gb)
        drain()
        assert(jobs.get == 0,
          s"post-write GET launched ${jobs.get} jobs — the PATCH already re-warmed the snapshot")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("concurrent serving: a reader storm against a mutating store — no stale or regressing reads, cache quiesces job-free") {
    // the snapshot cache's ConcurrentHashMap/single-writer contract,
    // exercised MULTI-threaded: N clients hammer the detail route over
    // real sockets while one writer (the contract's single writer)
    // applies K sequential renames. Per-reader the observed version must
    // never regress (computeIfAbsent's bin lock + write-then-invalidate
    // ordering), the first request AFTER the last write must see the
    // final state, and once the storm quiesces reads are cache hits
    // launching zero Spark jobs again.
    withServer { (port, store, _) =>
      // warm the snapshot so the storm starts from the cached regime
      assert(request(port, "/api/v1/files/1")._1 == 200)
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val K = 10
        val readers = 4
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val requests = new java.util.concurrent.atomic.AtomicLong
        val ver = """"filename":"v(\d+)\.parquet"""".r
        def versionOf(body: String): Long =
          ver.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(0L)
        val threads = (1 to readers).map { r =>
          new Thread(() => {
            var last = -1L
            while (!stop.get) {
              val (s, b, _) = request(port, "/api/v1/files/1")
              requests.incrementAndGet()
              if (s != 200) failures.add(s"reader $r got HTTP $s")
              else {
                val v = versionOf(b)
                if (v < last) failures.add(s"reader $r regressed v$last -> v$v")
                last = v
              }
            }
          }, s"graft-reader-$r")
        }
        threads.foreach(_.start())
        val t0 = ts("2024-06-01 00:00:00")
        (1 to K).foreach { k =>
          store.update(1L, t0)(f => f.copy(filename = s"v$k.parquet"))
        }
        // single-writer contract: the first NEW request after the last
        // write returns must serve the final state — no stale snapshot
        // can survive its invalidation
        val (fs2, fb, _) = request(port, "/api/v1/files/1")
        assert(fs2 == 200 && versionOf(fb) == K,
          s"post-write read saw v${versionOf(fb)}, want v$K")
        stop.set(true)
        threads.foreach(_.join(30000))
        assert(threads.forall(!_.isAlive), "reader threads failed to stop")
        assert(failures.isEmpty, failures.toArray.mkString("; "))
        assert(requests.get >= 20L, s"storm too small: ${requests.get} requests")
        // quiesced: the post-write probe above re-warmed the snapshot,
        // so a fresh burst of list+detail reads is all cache hits
        org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
        jobs.set(0)
        (1 to 20).foreach { _ =>
          assert(request(port, "/api/v1/files/1")._1 == 200)
          assert(request(port, "/api/v1/files")._1 == 200)
        }
        org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
        assert(jobs.get == 0, s"quiesced GETs launched ${jobs.get} Spark jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("GET /metrics: Prometheus text fed by real sync outcomes, no auth") {
    withServer { (port, store, _) =>
      // unauthenticated, like the reference's /metrics outside the API router
      val conn = new URI(s"http://127.0.0.1:$port/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(Option(conn.getHeaderField("Content-Type"))
        .exists(_.startsWith("text/plain")), conn.getHeaderField("Content-Type"))
      val b0 = new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(b0.contains("# TYPE in_progress_hyper_import gauge"))
      assert(b0.contains("successful_hyper_database_imports_total 0.0"))
      assert(b0.contains("failed_hyper_database_imports_total 0.0"))
      assert(b0.contains("in_progress_hyper_import 0.0"))

      def syncServe(postCommit: String => Unit) = {
        val landing = java.nio.file.Files.createTempDirectory("m_landing").toString
        val extract = java.nio.file.Files.createTempDirectory("m_extract").toString + "/ex"
        val ckpt = java.nio.file.Files.createTempDirectory("m_ckpt").toString
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(landing, "export1.csv"), "id,name\n1,a\n")
        new Serve(spark, store, Token,
          sync = id => graft.streaming.Streams.syncTick(
            spark, landing, "id LONG, name STRING", extract, ckpt,
            store, id, ts("2024-07-01 00:00:00"),
            postCommit = postCommit).awaitTermination(),
          downloadPath = _ => extract)
      }

      // success + failure both flow through recordSyncResult's accounting
      val ok = syncServe(_ => ())
      val pOk = ok.start()
      try assert(request(pOk, "/api/v1/files/1/sync", method = "POST")._1 == 200)
      finally ok.stop()
      val bad = syncServe(_ => sys.error("publish transport down"))
      val pBad = bad.start()
      try assert(request(pBad, "/api/v1/files/2/sync", method = "POST")._1 == 200)
      finally bad.stop()

      val (s1, b1, _) = request(port, "/metrics", token = "")
      assert(s1 == 200)
      assert(b1.contains("successful_hyper_database_imports_total 1.0"), b1)
      assert(b1.contains("failed_hyper_database_imports_total 1.0"), b1)
      // the gauge went up during the import and back down after
      assert(b1.contains("in_progress_hyper_import 0.0"), b1)
      // request counting by route group and method
      assert(b1.contains("""duva_requests_total{handler="files",method="POST"} 2.0"""), b1)
      assert(b1.contains("""duva_requests_total{handler="metrics",method="GET"}"""), b1)
      // client-controlled garbage methods normalize to OTHER (label
      // injection / unbounded-registry guard on the unauthenticated path)
      assert(bodyRequest(port, "/api/v1/files", "PROPFIND", "")._1 == 404)
      val (_, b2, _) = request(port, "/metrics", token = "")
      assert(b2.contains("""duva_requests_total{handler="files",method="OTHER"} 1.0"""), b2)
      assert(!b2.contains("PROPFIND"), b2)
    }
  }

  test("malformed percent-encoding and bad JSON escapes answer 400, not 500") {
    withServer { (port, _, _) =>
      // stray '%' in a query value is CLIENT error 400 — sent over a
      // raw socket because well-behaved HTTP clients reject the URL
      // before sending (the JDK server 400s the invalid request-target
      // itself; the handler's BadRequest guard covers any server that
      // passes the raw query through)
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.getOutputStream.write(
          (s"GET /api/v1/files?form_id=1% HTTP/1.1\r\nHost: x\r\n" +
            s"Authorization: Bearer $Token\r\nConnection: close\r\n\r\n").getBytes)
        sock.getOutputStream.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        assert(resp.startsWith("HTTP/1.1 400"), resp.take(120))
      } finally sock.close()
      // invalid JSON escape in a body field is CLIENT error too
      val (s2, b2) = bodyRequest(port, "/api/v1/files/1", "PATCH",
        """{"filename":"a\q"}""")
      assert(s2 == 400 && b2.contains("invalid escape"), s"$s2 $b2")
      // and a LEGAL escape decodes to the real character (\t here) —
      // the response re-escapes it, proving the round-trip, and the
      // catalog row holds the one-char tab, not the two chars `\t`
      val (s3, b3) = bodyRequest(port, "/api/v1/files/1", "PATCH",
        """{"filename":"a\tb.parquet"}""")
      assert(s3 == 200, s"$s3 $b3")
      assert(request(port, "/api/v1/files/1")._2.contains("""a\tb.parquet"""))
    }
  }

  test("registry ids are never recycled after a delete") {
    withServer { (port, store, _) =>
      // create a config (takes the next sequence id), delete it, create
      // another: the second id must be strictly greater — a recycled id
      // would silently re-resolve dangling configuration-id references
      val (c1s, c1b) = bodyRequest(port, "/api/v1/configurations", "POST",
        """{"user_id":10,"server_address":"https://t1.example.org","token_name":"p1"}""")
      assert(c1s == 201, c1b)
      val id1 = """"id":(\d+)""".r.findFirstMatchIn(c1b).get.group(1).toLong
      val conn = new URI(s"http://127.0.0.1:$port/api/v1/configurations/$id1")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("DELETE")
      conn.setRequestProperty("Authorization", s"Bearer $Token")
      assert(conn.getResponseCode == 204)
      val (c2s, c2b) = bodyRequest(port, "/api/v1/configurations", "POST",
        """{"user_id":10,"server_address":"https://t2.example.org","token_name":"p2"}""")
      assert(c2s == 201, c2b)
      val id2 = """"id":(\d+)""".r.findFirstMatchIn(c2b).get.group(1).toLong
      assert(id2 > id1, s"id recycled: deleted $id1, new row took $id2")
    }
  }

  test("a configuration PATCH onto another row's unique key is 400 and changes neither row") {
    withServer { (port, store, _) =>
      // config 1 is (tableau, pat-a, user 10): give user 10 a second token
      val (s, b) = bodyRequest(port, "/api/v1/configurations", "POST",
        """{"user_id":10,"server_address":"https://tableau.example.org","token_name":"pat-c"}""")
      assert(s == 201, b)
      val id = """"id":(\d+)""".r.findFirstMatchIn(b).get.group(1).toLong
      val (s2, b2) = bodyRequest(port, s"/api/v1/configurations/$id", "PATCH",
        """{"token_name":"pat-a"}""")
      assert(s2 == 400, b2)
      assert(b2.contains("\"detail\""), b2)
      assert(store.readConfigs().collect().map(c => c.id -> c.tokenName).toMap ==
        Map(1L -> "pat-a", id -> "pat-c"))
      assert(request(port, s"/api/v1/configurations/$id")._2.contains(""""token_name":"pat-c""""))
    }
  }

  test("a duplicate create spends no id: the next new row takes the previous new id + 1") {
    withServer { (port, _, _) =>
      def post(path: String, body: String, want: Int): Long = {
        val (s, b) = bodyRequest(port, path, "POST", body)
        assert(s == want, s"$path $body: $b")
        """"id":(\d+)""".r.findFirstMatchIn(b).get.group(1).toLong
      }
      Seq(
        ("/api/v1/servers", """{"url":"https://a.example.org"}""",
          """{"url":"https://b.example.org"}"""),
        ("/api/v1/configurations",
          """{"user_id":10,"server_address":"https://t.example.org","token_name":"a"}""",
          """{"user_id":10,"server_address":"https://t.example.org","token_name":"b"}"""),
        ("/api/v1/files", """{"user_id":60,"form_id":600}""", """{"user_id":61,"form_id":600}""")
      ).foreach { case (path, first, second) =>
        val a = post(path, first, 201)
        assert(post(path, first, 200) == a, s"$path: the duplicate did not answer the existing row")
        val b = post(path, second, 201)
        assert(b == a + 1, s"$path: the duplicate spent an id (new rows $a, then $b)")
      }
    }
  }

  test("delete: side effects run, row gone, 204; unknown id is 404") {
    withServer { (port, store, _) =>
      val conn = new URI(s"http://127.0.0.1:$port/api/v1/files/7").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("DELETE")
      conn.setRequestProperty("Authorization", s"Bearer $Token")
      assert(conn.getResponseCode == 204)
      assert(deleted.toSeq == Seq(7L))
      assert(store.readHyperFiles().filter(_.id == 7L).isEmpty)
      val (s2, _, _) = request(port, "/api/v1/files/7") // now absent
      assert(s2 == 404)
    }
  }
}
