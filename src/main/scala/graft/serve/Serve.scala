package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.catalog.{ConfigMeta, FileStatus, HyperFileMeta, MetaStore, ServerMeta, UniqueKeyViolation}

/** Thin HTTP product shell over the metadata catalog + extract store —
  * the serving surface a reference user actually curls
  * (app/api/v1/endpoints/file.py:42-114 list/detail/download,
  * file.py:164-201 sync trigger), re-expressed over [[MetaStore]] and
  * the parquet extract root instead of Postgres + S3.
  *
  * Design boundaries, deliberately mirroring the reference:
  *  - auth is a bearer token; a missing/wrong token is 403
  *    "Not authenticated" (file.py:57 raises exactly this);
  *  - list supports `?form_id=` (400 on a non-numeric value,
  *    file.py:60-68) and `?skip=&limit=` pagination with the reference's
  *    0/100 defaults (app/crud/base.py:29-32) — catalog reads are the
  *    P1/P2 point-lookup/paginate primitives over the SMALL catalog
  *    table, so every request is a driver-sized scan, never extract-
  *    scale work;
  *  - detail with `?file_format=hyper` answers 307 with the extract's
  *    local path in `Location` — the local-filesystem analog of the
  *    reference's presigned-URL RedirectResponse (file.py:100-108;
  *    presigning itself is S8, out-of-engine by design);
  *  - POST `{id}/sync` runs the caller-provided sync body ONLY when the
  *    file is not already queued/syncing, answering 200 (triggered) or
  *    202 (already in flight) with the reference's message body
  *    (file.py:186-199). The body runs synchronously so specs are
  *    deterministic; a production caller passes a closure that enqueues
  *    (the reference uses BackgroundTasks the same way).
  *
  * The server itself is the JDK's built-in httpserver — zero new
  * dependencies, driver-side only; Spark never serves HTTP at
  * executors. One instance serves one catalog root.
  *
  * Round 2 adds the remaining file CRUD (file.py:223-285 create,
  * :117-143 update, :146-160 delete), catalog-level: create is
  * [[MetaStore.createOrGet]] under the (user_id, form_id) unique key —
  * a duplicate answers 200 with the EXISTING row, exactly the
  * create-or-get the reference's DB constraint + get-then-create gives —
  * with `sync_immediately` running the injected sync body for a fresh
  * row (the reference's BackgroundTasks immediate sync); update patches
  * filename / configuration re-attachment (stored under the
  * `configuration-id` metaData key); delete runs the injected
  * `onDelete` side effects (the reference cancels the cron job and
  * deletes the S3 object there) then removes the catalog row. Request
  * bodies are the reference's FLAT JSON objects, read with a minimal
  * flat-field extractor — deliberately not a general JSON parser.
  *
  * @param sync callback for the sync trigger, given the file id;
  *             typically the [[graft.streaming.Streams.syncTick]] batch
  *             body (drain → refresh → recordSyncResult).
  * @param downloadPath resolves a catalog row to the local extract path
  *                     put in the redirect `Location` header.
  * @param onDelete side effects to run BEFORE the catalog row is removed
  *                 (job cancel, extract-dir delete).
  * @param clock timestamp source for create/update stamps — inject a
  *              fixed clock for deterministic replays/specs.
  * @param formMeta injected form-metadata fetch for create
  *                 (file.py:246-261, the OnaData `get_form` call): a
  *                 throwing fetch is the reference's 400 "Error
  *                 retrieving form"; a `public_key` entry triggers the
  *                 encrypted-forms rejection; `title` names the extract
  *                 (`{title}.parquet` — the reference's `{title}.hyper`).
  */
class Serve(spark: SparkSession, store: MetaStore, token: String,
            sync: Long => Unit,
            downloadPath: HyperFileMeta => String,
            onDelete: HyperFileMeta => Unit = _ => (),
            clock: () => java.sql.Timestamp =
              () => new java.sql.Timestamp(System.currentTimeMillis()),
            formMeta: Long => Map[String, String] = _ => Map.empty,
            exchange: OAuth.Exchange =
              (_, _) => throw OAuth.CredentialsError("no OAuth transport configured"),
            profile: OAuth.Profile =
              _ => sys.error("no OAuth transport configured"),
            newStateKey: () => String =
              () => java.util.UUID.randomUUID().toString) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start on an ephemeral (or given) port; returns the bound port.
    * A second start() without a stop() is refused — it would silently
    * orphan the running server and leak its 8-thread pool.
    */
  def start(port: Int = 0): Int = {
    require(server == null, "server already running — stop() it first")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/v1/files", (ex: HttpExchange) => handle(ex))
    server.createContext("/api/v1/servers",
      (ex: HttpExchange) => handleRegistry(ex, "servers"))
    server.createContext("/api/v1/configurations",
      (ex: HttpExchange) => handleRegistry(ex, "configurations"))
    server.createContext("/api/v1/oauth", (ex: HttpExchange) => handleOAuth(ex))
    server.createContext("/health", (ex: HttpExchange) => handleHealth(ex))
    server.createContext("/metrics", (ex: HttpExchange) => handleMetrics(ex))
    server.createContext("/", (ex: HttpExchange) => handleRoot(ex))
    // Small fixed pool (the reference serves via FastAPI's async
    // workers): GETs are driver-side snapshot lookups and run fully
    // concurrent; mutating routes serialize inside MetaStore's write
    // lock, so concurrency here never races the catalog. Daemon threads
    // — a forgotten stop() must not pin the JVM.
    pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-serve")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    // stop(1): give in-flight handlers up to a second to drain instead
    // of abandoning them mid-response (stop(0) kills the dispatcher with
    // exchanges half-written)
    if (server != null) { server.stop(1); server = null }
    if (pool != null) { pool.shutdown(); pool = null }
  }

  // ---- routing ----------------------------------------------------------

  private def handle(ex: HttpExchange): Unit =
    try {
      store.metrics.request("files", ex.getRequestMethod)
      if (!authed(ex)) respondJson(ex, 403, """{"detail":"Not authenticated"}""")
      else {
        val rel = ex.getRequestURI.getPath.stripPrefix("/api/v1/files")
          .stripPrefix("/").stripSuffix("/")
        val parts = if (rel.isEmpty) Array.empty[String] else rel.split("/")
        (ex.getRequestMethod, parts) match {
          case ("GET", Array()) => listFiles(ex)
          case ("POST", Array()) => createFile(ex)
          case ("GET", Array(id)) => getFile(ex, id)
          case ("PATCH", Array(id)) => patchFile(ex, id)
          case ("DELETE", Array(id)) => deleteFile(ex, id)
          case ("POST", Array(id, "sync")) => syncFile(ex, id)
          case _ => respondJson(ex, 404, """{"detail":"Not found."}""")
        }
      }
    } catch {
      case BadRequest(m) =>
        respondJson(ex, 400, s"""{"detail":${jsonStr(m)}}""")
      case e: Throwable =>
        respondJson(ex, 500, s"""{"detail":${jsonStr(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Bearer auth: the static service token, or a token minted by the
    * OAuth callback for a registered user ([[OAuth.accessToken]] is a
    * deterministic HMAC of the user id under the service secret, so
    * verification is recomputation against the user registry). The
    * minted-token set is CACHED (refreshed at most every 5 s, and
    * invalidated by the callback's upsert) so a request never pays a
    * catalog read on the auth hot path, and a transient read failure
    * keeps serving the last good set instead of 403-ing valid tokens.
    * The OAuth session cookie (`graft_session`, set by the callback's
    * redirect branch) is accepted as the same credential.
    */
  private def authed(ex: HttpExchange): Boolean = {
    val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .collect { case h if h.startsWith("Bearer ") => h.stripPrefix("Bearer ") }
    val cookie = Option(ex.getRequestHeaders.getFirst("Cookie"))
      .flatMap(_.split(";").map(_.trim).collectFirst {
        case c if c.startsWith("graft_session=") => c.stripPrefix("graft_session=")
      })
    // constant-time equality (MessageDigest.isEqual): String.== short-
    // circuits at the first differing byte, leaking the static token's
    // matching prefix length to anyone who can time many requests. The
    // minted set is probed the same way — it is small (one per user).
    def tokenEq(a: String, b: String): Boolean =
      java.security.MessageDigest.isEqual(
        a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
    (bearer.toSeq ++ cookie.toSeq).exists { presented =>
      tokenEq(presented, token) ||
        mintedTokens(clock().getTime).exists(tokenEq(presented, _))
    }
  }

  private var tokenCache: (Set[String], Long) = (Set.empty, Long.MinValue)

  private def mintedTokens(nowMillis: Long): Set[String] = synchronized {
    // the Long.MinValue sentinel is checked explicitly — subtracting it
    // overflows, so the age test alone would never fire
    if (tokenCache._2 == Long.MinValue || nowMillis - tokenCache._2 > 5000L) {
      val fresh =
        try Some(store.usersSnapshot()
          .map(u => OAuth.accessToken(token, u.id)).toSet)
        catch { case scala.util.control.NonFatal(_) => None } // keep last good set
      // a FAILED refresh must not consume the invalidation sentinel: a
      // just-minted token would then 403 for the full 5 s window — keep
      // MinValue so the next request retries immediately
      val stamp =
        if (fresh.isEmpty && tokenCache._2 == Long.MinValue) Long.MinValue
        else nowMillis
      tokenCache = (fresh.getOrElse(tokenCache._1), stamp)
    }
    tokenCache._1
  }

  private def invalidateTokenCache(): Unit =
    synchronized { tokenCache = (tokenCache._1, Long.MinValue) }

  /** Parse query params from the RAW (still percent-encoded) query, so
    * values containing encoded `&`/`=`/`%` (the OAuth redirect_url is a
    * full URL) survive the split and are decoded exactly once —
    * `URI.getQuery` is already decoded, and decoding it again both
    * splits on separators inside values and throws on a literal `%`.
    */
  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        // malformed percent-encoding (a stray '%') is CLIENT error 400,
        // not the generic 500 the outer catch would produce
        try java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
        catch {
          case e: IllegalArgumentException =>
            throw BadRequest(s"malformed query parameter: ${e.getMessage}")
        }
      }.toMap

  /** Client-input failure: rendered as 400 by every route's catch. */
  private case class BadRequest(msg: String) extends RuntimeException(msg)

  // ---- handlers ---------------------------------------------------------

  /** GET /api/v1/files?form_id=&skip=&limit= (file.py:42-89). */
  private def listFiles(ex: HttpExchange): Unit = {
    val q = query(ex)
    // toLongOption rejects empty strings and Long overflow too — both
    // pass an all-digits check but must be the documented 400, not a 500
    val formId = q.get("form_id").map(v => v -> v.toLongOption.filter(_ >= 0))
    val skip = q.get("skip").map(v => v -> v.toIntOption.filter(_ >= 0))
    val limit = q.get("limit").map(v => v -> v.toIntOption.filter(_ >= 0))
    (formId, skip, limit) match {
      case (Some((bad, None)), _, _) =>
        respondJson(ex, 400,
          s"""{"detail":${jsonStr(s"Invalid form_id provided: $bad")}}""")
      case (_, Some((bad, None)), _) =>
        respondJson(ex, 400, s"""{"detail":${jsonStr(s"Invalid skip provided: $bad")}}""")
      case (_, _, Some((bad, None))) =>
        respondJson(ex, 400, s"""{"detail":${jsonStr(s"Invalid limit provided: $bad")}}""")
      case _ =>
        // cached catalog snapshot (id-ordered): filter + paginate are
        // driver-side Scala over ≤ catalog-size rows, no Spark job per
        // request. The DISTRIBUTED forms of these ops stay oracle-checked
        // as Catalog.pointLookup/paginate (q_point_lookup/q_pagination) —
        // this path is the reference's "Postgres query from the app tier".
        val all = store.hyperFilesSnapshot()
        val filtered = formId.flatMap(_._2) match {
          case Some(fid) => all.filter(_.formId == fid)
          case None => all
        }
        // P2 pagination under a total order, reference defaults 0/100
        // (drop/take, not slice: skip+limit may overflow Int)
        val rows = filtered
          .drop(skip.flatMap(_._2).getOrElse(0))
          .take(limit.flatMap(_._2).getOrElse(100))
        respondJson(ex, 200,
          rows.map(fileJson(_, withUrls = true)).mkString("[", ",", "]"))
    }
  }

  /** GET /api/v1/files/{id}[?file_format=hyper] (file.py:92-114). */
  private def getFile(ex: HttpExchange, idStr: String): Unit =
    lookup(ex, idStr) { f =>
      if (query(ex).get("file_format").contains("hyper")) {
        // local-path analog of the presigned-URL redirect
        ex.getResponseHeaders.set("Location", downloadPath(f))
        ex.sendResponseHeaders(307, -1)
      } else respondJson(ex, 200, fileJson(f, withUrls = true))
    }

  /** POST /api/v1/files/{id}/sync (file.py:164-201). */
  private def syncFile(ex: HttpExchange, idStr: String): Unit =
    lookup(ex, idStr) { f =>
      val inFlight =
        f.fileStatus == FileStatus.Queued || f.fileStatus == FileStatus.Syncing
      if (!inFlight) sync(f.id)
      respondJson(ex, if (inFlight) 202 else 200,
        """{"message":"File syncing is currently on-going"}""")
    }

  /** POST /api/v1/files (file.py:223-285, catalog half): body
    * `{"user_id":N,"form_id":N,"filename":"…","sync_immediately":bool}`.
    * 201 + row when created; 200 + the EXISTING row when (user_id,
    * form_id) is already taken (createOrGet semantics); 400 on a
    * missing/non-numeric field. `sync_immediately` runs the sync body
    * only for a genuinely new row.
    */
  private def createFile(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    (jsonField(body, "user_id").flatMap(_.toLongOption),
     jsonField(body, "form_id").flatMap(_.toLongOption)) match {
      case (Some(userId), Some(formId)) =>
        val meta =
          try Right(formMeta(formId))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        meta match {
          case Left(e) =>
            // the reference surfaces a failed form fetch as 400 (file.py:252-256)
            respondJson(ex, 400, s"""{"detail":${jsonStr(
              s"Error retrieving form $formId: ${e.getMessage}")}}""")
          case Right(m) if m.get("public_key").exists(_.nonEmpty) =>
            // encrypted-forms guard (file.py:259-260)
            respondJson(ex, 400, """{"detail":"Encrypted forms are not supported"}""")
          case Right(m) =>
            // configuration re-attach must name an EXISTING config owned
            // by the requesting user (file.py:266-273)
            val configId = jsonField(body, "configuration_id")
            // a catalog read FAILURE must propagate to the generic 500
            // handler — mapping it to None here would misreport an
            // outage as the definitive client error 400 "not found"
            val configRow = configId.flatMap(_.toLongOption).flatMap { i =>
              store.configsSnapshot().find(c => c.id == i && c.userId == userId)
            }
            if (configId.nonEmpty && configRow.isEmpty)
              respondJson(ex, 400, """{"detail":"Configuration not found with given ID"}""")
            else {
              val filename = m.get("title").map(t => s"$t.parquet")
                .orElse(jsonField(body, "filename"))
                .getOrElse(s"form_$formId.parquet")
              val metaData = configRow.map(c =>
                Map("configuration-id" -> c.id.toString)).getOrElse(Map.empty[String, String])
              val (owner, created) = store.createOrGetFile(userId, formId)(
                HyperFileMeta(_, userId, formId, filename, FileStatus.Queued,
                  isActive = true, metaData, clock()))
              if (created && jsonField(body, "sync_immediately").contains("true"))
                sync(owner.id)
              respondJson(ex, if (created) 201 else 200, fileJson(owner, withUrls = true))
            }
        }
      case _ =>
        respondJson(ex, 400, """{"detail":"user_id and form_id are required"}""")
    }
  }

  /** PATCH /api/v1/files/{id} (file.py:117-143): rename and/or re-attach
    * a configuration (`configuration_id`, kept under the metaData key).
    * Re-attachment applies the SAME existence/ownership validation as
    * create — a dangling or foreign configuration id must be the 400,
    * never a silently-stored pointer the publish fan-out can't resolve.
    */
  private def patchFile(ex: HttpExchange, idStr: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // extract plain values before the update closure runs under the
    // catalog lock
    val newName = jsonField(body, "filename")
    val newConfig = jsonField(body, "configuration_id")
    lookup(ex, idStr) { f =>
      // catalog read failures propagate (500), never masquerade as 400
      val configRow = newConfig.flatMap(_.toLongOption).flatMap { i =>
        store.configsSnapshot().find(c => c.id == i && c.userId == f.userId)
      }
      if (newConfig.nonEmpty && configRow.isEmpty)
        respondJson(ex, 400, """{"detail":"Configuration not found with given ID"}""")
      else {
        val configId = configRow.map(_.id.toString)
        store.update(f.id, clock()) { row =>
          val renamed = newName.map(n => row.copy(filename = n)).getOrElse(row)
          configId
            .map(c => renamed.copy(metaData = renamed.metaData + ("configuration-id" -> c)))
            .getOrElse(renamed)
        }
        val updated = store.hyperFilesSnapshot().find(_.id == f.id).get
        respondJson(ex, 200, fileJson(updated, withUrls = true))
      }
    }
  }

  /** DELETE /api/v1/files/{id} (file.py:146-160): side effects first
    * (job cancel / extract delete via `onDelete`), then the catalog row;
    * 204 on success.
    */
  private def deleteFile(ex: HttpExchange, idStr: String): Unit =
    lookup(ex, idStr) { f =>
      onDelete(f)
      store.delete(f.id)
      ex.sendResponseHeaders(204, -1)
    }

  // ---- registries: servers + configurations (server.py:14-61,
  //      configuration.py:19-123) -----------------------------------------

  private def handleRegistry(ex: HttpExchange, which: String): Unit =
    try {
      store.metrics.request(which, ex.getRequestMethod)
      if (!authed(ex)) respondJson(ex, 403, """{"detail":"Not authenticated"}""")
      else {
        val rel = ex.getRequestURI.getPath.stripPrefix(s"/api/v1/$which")
          .stripPrefix("/").stripSuffix("/")
        val parts = if (rel.isEmpty) Array.empty[String] else rel.split("/")
        (ex.getRequestMethod, parts, which) match {
          case ("GET", Array(), "servers") =>
            respondJson(ex, 200, store.serversSnapshot()
              .map(serverJson).mkString("[", ",", "]"))
          case ("POST", Array(), "servers") =>
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            jsonField(body, "url") match {
              case None => respondJson(ex, 400, """{"detail":"url is required"}""")
              case Some(url) =>
                // normalize like the OAuth login lookup (trailing slash
                // stripped) so the unique-url key and the by-url match
                // agree on one spelling
                val (row, created) = store.createOrGetServer(url.stripSuffix("/"))
                respondJson(ex, if (created) 201 else 200, serverJson(row))
            }
          case ("GET", Array(id), "servers") =>
            id.toLongOption.flatMap(i =>
              store.serversSnapshot().find(_.id == i)) match {
              case Some(s) => respondJson(ex, 200, serverJson(s))
              case None => respondJson(ex, 404, """{"detail":"Server not found."}""")
            }
          case ("GET", Array(), "configurations") =>
            respondJson(ex, 200, store.configsSnapshot()
              .map(configJson).mkString("[", ",", "]"))
          case ("POST", Array(), "configurations") =>
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            (jsonField(body, "user_id").flatMap(_.toLongOption),
             jsonField(body, "server_address"), jsonField(body, "token_name")) match {
              case (Some(uid), Some(addr), Some(tok)) =>
                val (row, created) = store.createOrGetConfig(uid, addr, tok)
                respondJson(ex, if (created) 201 else 200, configJson(row))
              case _ => respondJson(ex, 400,
                """{"detail":"user_id, server_address and token_name are required"}""")
            }
          case ("GET", Array(id), "configurations") =>
            withConfig(ex, id)(c => respondJson(ex, 200, configJson(c)))
          case ("PATCH", Array(id), "configurations") =>
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val newTok = jsonField(body, "token_name")
            withConfig(ex, id) { c =>
              store.updateConfig(c.id)(row =>
                newTok.map(t => row.copy(tokenName = t)).getOrElse(row))
              respondJson(ex, 200,
                configJson(store.configsSnapshot().find(_.id == c.id).get))
            }
          case ("DELETE", Array(id), "configurations") =>
            withConfig(ex, id) { c =>
              store.deleteConfig(c.id)
              ex.sendResponseHeaders(204, -1)
            }
          case _ => respondJson(ex, 404, """{"detail":"Not found."}""")
        }
      }
    } catch {
      // UniqueKeyViolation: a configuration PATCH onto another row's key
      case e @ (_: BadRequest | _: UniqueKeyViolation) =>
        respondJson(ex, 400, s"""{"detail":${jsonStr(e.getMessage)}}""")
      case e: Throwable =>
        respondJson(ex, 500, s"""{"detail":${jsonStr(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  private def withConfig(ex: HttpExchange, idStr: String)(body: ConfigMeta => Unit): Unit =
    idStr.toLongOption.flatMap(i =>
      store.configsSnapshot().find(_.id == i)) match {
      case Some(c) => body(c)
      case None => respondJson(ex, 404, """{"detail":"Configuration not found."}""")
    }

  // ---- OAuth2 code flow (oauth.py:24-146) -------------------------------

  private val oauthStates = new OAuth.StateStore()

  /** GET /api/v1/oauth/login?server_url=[&redirect_url=] and
    * GET /api/v1/oauth/callback?code=&state= — unauthenticated by
    * design (this IS the auth path). External exchange/profile calls
    * are injected; the state machine (5-min TTL, single-use state,
    * server resolution, user upsert, 302-vs-token split) runs here.
    */
  private def handleOAuth(ex: HttpExchange): Unit =
    try {
      store.metrics.request("oauth", ex.getRequestMethod)
      val rel = ex.getRequestURI.getPath.stripPrefix("/api/v1/oauth")
        .stripPrefix("/").stripSuffix("/")
      val q = query(ex)
      (ex.getRequestMethod, rel) match {
        case ("GET", "login") =>
          q.get("server_url").map(_.stripSuffix("/")) match {
            case None => respondJson(ex, 400, """{"detail":"server_url is required"}""")
            case Some(url) =>
              store.serversSnapshot().find(_.url == url) match {
                case None =>
                  respondJson(ex, 400, """{"detail":"Server not configured"}""")
                case Some(srv) =>
                  val key = newStateKey()
                  oauthStates.put(key,
                    OAuth.AuthState(srv.id, q.get("redirect_url")), clock().getTime)
                  ex.getResponseHeaders.set("Location",
                    s"${srv.url}/o/authorize?client_id=graft&response_type=code&state=$key")
                  ex.getResponseHeaders.set("Cache-Control",
                    "no-cache, no-store, revalidate")
                  ex.sendResponseHeaders(302, -1)
              }
          }
        case ("GET", "callback") =>
          (q.get("code"), q.get("state")) match {
            case (Some(code), Some(stateKey)) =>
              oauthStates.take(stateKey, clock().getTime) match {
                case None => respondJson(ex, 401,
                  """{"detail":"Authorization state can not be confirmed."}""")
                case Some(st) =>
                  store.serversSnapshot().find(_.id == st.serverId) match {
                    case None =>
                      respondJson(ex, 400, """{"detail":"Server not configured"}""")
                    case Some(srv) =>
                      // ONLY the two UPSTREAM calls sit inside the
                      // 400/502 catch: a catalog failure in the user
                      // upsert below is an INTERNAL outage and must
                      // reach the generic 500 handler (the rule the
                      // config-validation comments state), and a send
                      // failure must not trigger a second send attempt
                      val upstream =
                        try Right { val (access, _) = exchange(srv, code)
                                    profile(access) }
                        catch {
                          case OAuth.CredentialsError(m) => Left((400, m))
                          case scala.util.control.NonFatal(e) =>
                            Left((502, String.valueOf(e.getMessage)))
                        }
                      upstream match {
                        case Left((status, m)) =>
                          respondJson(ex, status, s"""{"detail":${jsonStr(m)}}""")
                        case Right(username) =>
                        val user = store.createOrGetUser(username, srv.id)
                        invalidateTokenCache() // the new user's token must work NOW
                        val minted = OAuth.accessToken(token, user.id)
                        st.redirectUrl match {
                          case Some(r) =>
                            // browser flow: the credential rides a session
                            // cookie (the reference's create_session,
                            // oauth.py:136-142) — a bare redirect would end
                            // the flow unauthenticated. redirect_url comes
                            // from the login request; production fronting
                            // should allowlist it (the reference accepts it
                            // unvalidated the same way).
                            // SameSite=Strict: the cookie is a full
                            // credential on state-changing routes, so
                            // cross-site requests must not carry it
                            // (CSRF); production fronting adds `Secure`
                            // once TLS terminates in front of this shell
                            ex.getResponseHeaders.set("Set-Cookie",
                              s"graft_session=$minted; HttpOnly; SameSite=Strict; Path=/")
                            ex.getResponseHeaders.set("Location", r)
                            ex.sendResponseHeaders(302, -1)
                          case None =>
                            respondJson(ex, 200,
                              s"""{"access_token":${jsonStr(minted)},"token_type":"bearer"}""")
                        }
                      }
                  }
              }
            case _ =>
              respondJson(ex, 400, """{"detail":"code and state are required"}""")
          }
        case _ => respondJson(ex, 404, """{"detail":"Not found."}""")
      }
    } catch {
      case BadRequest(m) =>
        respondJson(ex, 400, s"""{"detail":${jsonStr(m)}}""")
      case e: Throwable =>
        respondJson(ex, 500, s"""{"detail":${jsonStr(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** GET /health (app/main.py:75-87): the db ping maps to "is the catalog
    * readable" — one driver-sized read.
    */
  private def handleHealth(ex: HttpExchange): Unit =
    try {
      store.metrics.request("health", ex.getRequestMethod)
      val db = try { store.readHyperFiles().limit(1).collect(); "ok" }
               catch { case scala.util.control.NonFatal(_) => "error" }
      respondJson(ex, if (db == "ok") 200 else 500, s"""{"database":${jsonStr(db)}}""")
    } finally ex.close()

  /** GET /metrics (app/main.py:64, counters at
    * app/utils/onadata_utils.py:37-47): Prometheus text format from the
    * store's [[graft.Metrics]] registry. Unauthenticated, matching the
    * reference (mounted outside the authed API router); renders from
    * in-process atomics — no catalog read, no Spark job.
    */
  private def handleMetrics(ex: HttpExchange): Unit =
    try {
      store.metrics.request("metrics", ex.getRequestMethod)
      if (ex.getRequestMethod == "GET") {
        val body = store.metrics.render.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      } else respondJson(ex, 405, """{"detail":"Method not allowed"}""")
    } finally ex.close()

  /** GET / (app/main.py:64-72): app info. Anything else under the root
    * context is 404.
    */
  private def handleRoot(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestURI.getPath == "/" && ex.getRequestMethod == "GET")
        respondJson(ex, 200,
          """{"app_name":"graft","docs":"/api/v1/files","version":"0.8.0"}""")
      else respondJson(ex, 404, """{"detail":"Not found."}""")
    } finally ex.close()

  private def serverJson(s: ServerMeta): String =
    s"""{"id":${s.id},"url":${jsonStr(s.url)}}"""

  private def configJson(c: ConfigMeta): String =
    s"""{"id":${c.id},"user_id":${c.userId},""" +
      s""""server_address":${jsonStr(c.serverAddress)},""" +
      s""""token_name":${jsonStr(c.tokenName)},""" +
      s""""export_settings":${c.exportSettings.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
        .mkString("{", ",", "}")}}"""

  /** Minimal FLAT-JSON field extractor for the reference's small request
    * bodies: returns the unquoted string / number / boolean literal for
    * `key`. Not a general parser — nested objects/arrays are out of
    * contract here.
    */
  private def jsonField(body: String, key: String): Option[String] = {
    val p = ("\"" + java.util.regex.Pattern.quote(key) +
      "\"\\s*:\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"|(true|false|-?\\d+))").r
    p.findFirstMatchIn(body).map { m =>
      Option(m.group(1)).map(unescapeJson).getOrElse(m.group(2))
    }
  }

  /** Full JSON string unescape: every escape the grammar allows, not
    * just \" and \\ — a legal `"a\nb"` must decode to a newline, not be
    * stored as the literal two characters `\n` (silent corruption that
    * also fails to round-trip through fileJson's re-escaping). An
    * unknown escape is the client's malformed JSON → 400 via BadRequest.
    */
  private def unescapeJson(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\') { sb.append(c); i += 1 }
      else {
        if (i + 1 >= s.length) throw BadRequest(s"dangling escape in: $s")
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' =>
            if (i + 6 > s.length) throw BadRequest(s"truncated \\u escape in: $s")
            val hex = s.substring(i + 2, i + 6)
            val cp = try Integer.parseInt(hex, 16)
                     catch { case _: NumberFormatException =>
                       throw BadRequest(s"invalid \\u escape \\u$hex") }
            sb.append(cp.toChar); i += 6
          case other => throw BadRequest(s"invalid escape \\$other")
        }
      }
    }
    sb.result()
  }

  private def lookup(ex: HttpExchange, idStr: String)(body: HyperFileMeta => Unit): Unit =
    idStr.toLongOption.flatMap(id => store.hyperFilesSnapshot().find(_.id == id))
    match {
      case Some(f) => body(f)
      case None => respondJson(ex, 404, """{"detail":"File not found."}""")
    }

  // ---- rendering --------------------------------------------------------

  private def respondJson(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def fileJson(f: HyperFileMeta, withUrls: Boolean): String = {
    val base = Seq(
      "id" -> f.id.toString,
      "user_id" -> f.userId.toString,
      "form_id" -> f.formId.toString,
      "filename" -> jsonStr(f.filename),
      "file_status" -> jsonStr(f.fileStatus),
      "is_active" -> f.isActive.toString,
      "last_updated" -> jsonStr(f.lastUpdated.toInstant.toString))
    val urls = if (!withUrls) Nil else Seq(
      "url" -> jsonStr(s"/api/v1/files/${f.id}"),
      "download_url" -> jsonStr(s"/api/v1/files/${f.id}?file_format=hyper"))
    (base ++ urls).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private def jsonStr(s: String): String = graft.Json.str(s)
}
