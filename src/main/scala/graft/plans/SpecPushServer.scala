package graft.plans

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsParameters, HttpsServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

/** mTLS material for the control socket — the JSSE half of the
  * reference's PKI daemon identity (`pki/src/lib.rs:1-266`: each daemon
  * holds a key pair + cert and the control plane verifies peers; here
  * both sides are standard PKCS#12 stores and JSSE does the handshake).
  * `keystore` holds this server's identity; `truststore` holds the
  * certs this server accepts — with `needClientAuth` (the default) a
  * client that cannot present a trusted cert fails the HANDSHAKE, so
  * unauthenticated pushes never reach the HTTP layer at all (the bearer
  * token then still guards mutations, matching the reference's
  * token-over-TLS join flow).
  */
final case class TlsConfig(keystore: Path, keystorePass: Array[Char],
                           truststore: Path, truststorePass: Array[Char],
                           needClientAuth: Boolean = true)

object TlsConfig {
  private def loadStore(p: Path, pass: Array[Char]): java.security.KeyStore = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(p)
    try ks.load(in, pass) finally in.close()
    ks
  }

  /** Build an SSLContext from the two stores — shared by the server side
    * (below) and test/client code ([[SpecPushClient]]-style callers). */
  def sslContext(c: TlsConfig): SSLContext = {
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadStore(c.keystore, c.keystorePass), c.keystorePass)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(loadStore(c.truststore, c.truststorePass))
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)
    ctx
  }
}

/** Minimal spec-push endpoint — the network half of the reference's daemon
  * API (`control_plane/src/http/daemon_api/mod.rs:117-148`, where daemons
  * receive pipeline configs pushed over HTTP): a JDK `HttpServer` that
  * writes validated spec JSON into the WATCHED DIRECTORY, so pushed specs
  * flow through exactly the same [[SpecDirWatcher]] reconcile loop (and
  * its last-known-good semantics) as hand-edited files. No new
  * dependencies — `com.sun.net.httpserver` ships with the JDK.
  *
  * Routes (name = `[A-Za-z0-9._-]+`, `.json` appended if missing):
  *   PUT/POST /specs/&lt;name&gt;  body = spec JSON → validate, write
  *     atomically (tmp + ATOMIC_MOVE — the watcher can never read a
  *     half-written file), 400 on invalid spec
  *   DELETE   /specs/&lt;name&gt;  → remove the file (its pipelines stop on
  *     the next poll), 404 if absent
  *   GET /specs               → JSON listing of present spec files
  *   GET /specs/&lt;name&gt;        → the spec, SECRETS REDACTED
  *     ([[PipelineSpec.display]]) — the read side is a display surface
  *
  * Validation happens BEFORE the write: the watcher tolerates garbage
  * files (keeps last-known-good), but accepting a push the server knows
  * is broken would turn an immediate, attributable 400 into a delayed
  * log line. Binds loopback by default — this is a daemon-local control
  * socket, not a public API (the reference fronts it with mTLS).
  *
  * `token` guards the MUTATING routes the way the reference's daemons
  * join the control plane with per-daemon tokens
  * (`control_plane/src/http/daemon_api/mod.rs:117-148`): when set,
  * PUT/POST/DELETE require `Authorization: Bearer <token>` (constant-
  * time compare) and answer 401 otherwise. GET stays open — the read
  * side is already a secret-redacted display surface, and health
  * probes shouldn't need credentials. Token transport security (the
  * reference's mTLS) belongs to whatever fronts this socket.
  */
final class SpecPushServer(dir: Path, port: Int = 0,
                           host: String = "127.0.0.1",
                           status: Option[() => Seq[(String, String, Int, Option[String])]] =
                             scala.None,
                           token: Option[String] = scala.None,
                           tls: Option[TlsConfig] = scala.None,
                           control: Option[ControlPlane] = scala.None,
                           onChange: Option[() => Unit] = scala.None,
                           presence: Option[DaemonPresence] = scala.None) {

  /** Fire the change notification (e.g. [[SpecPushWs]] broadcasting
    * `RefetchGraph`) after a mutation LANDED — never let a listener
    * failure turn a successful write into a 500. */
  private def notifyChange(): Unit =
    onChange.foreach(f => try f() catch { case _: Exception => () })
  private val server: HttpServer = tls match {
    case Some(cfg) =>
      val s = HttpsServer.create(new InetSocketAddress(host, port), 0)
      val ctx = TlsConfig.sslContext(cfg)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx) {
        override def configure(p: HttpsParameters): Unit = {
          // set the FULL SSLParameters block: HttpsServer applies either
          // the parameter object or the individual setters, and the
          // object form is the one that reliably carries needClientAuth
          val sslp = ctx.getDefaultSSLParameters
          sslp.setNeedClientAuth(cfg.needClientAuth)
          p.setSSLParameters(sslp)
        }
      })
      s
    case scala.None => HttpServer.create(new InetSocketAddress(host, port), 0)
  }
  @volatile private var started = false

  // read-side status (reference daemons report pipeline state back to the
  // control plane): GET /pipelines → [{hash, state, restarts[, error]}]
  // from the orchestrator snapshot, when one is wired in (graft serve
  // does); `error` carries the failure's cause chain for the console's
  // row expander and is present only on failed rows
  server.createContext("/pipelines", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try status match {
        case Some(snap) if ex.getRequestMethod == "GET" =>
          val rows = snap().map { case (h, st, r, err) =>
            val e = err.map(d => s""","error":"${jsonEscape(d)}"""").getOrElse("")
            s"""{"hash":"${jsonEscape(h)}","state":"${jsonEscape(st)}","restarts":$r$e}"""
          }.mkString("[", ",", "]")
          respond(ex, 200, rows + "\n")
        case Some(_) => respond(ex, 405, "method not allowed\n")
        case scala.None => respond(ex, 404, "no orchestrator attached\n")
      } catch {
        case e: Exception => respond(ex, 500, s"error: ${e.getMessage}\n")
      } finally ex.close()
  })

  /** Port actually bound (use port=0 to let the OS pick — tests). */
  def boundPort: Int = server.getAddress.getPort

  private val NamePat = "[A-Za-z0-9._-]+".r

  server.createContext("/specs", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch { case e: Exception => respond(ex, 500, s"error: ${e.getMessage}\n") }
      finally ex.close()
  })

  // ---- control-plane API (reference `control_plane/src/http/api/
  // mod.rs:12-38`): workspaces create/read/delete grouping pipeline
  // specs, daemon join + token issue/list/delete, daemon list/delete/
  // set_name. Only mounted when a ControlPlane is attached. ----

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A workspace member spec is the file `<ws>__<spec>.json` in the SAME
    * watched dir as ungrouped specs — grouped pipelines flow through the
    * identical SpecDirWatcher reconcile loop; deleting the workspace
    * deletes its files, so its pipelines stop on the next poll. */
  private def wsSpecPath(ws: String, name: String): Option[Path] =
    (ws, name) match {
      // the member name gets the same `__` screen as the workspace and
      // the ungrouped route: `PUT /workspaces/a/specs/b__c` would land as
      // `a__b__c.json`, ambiguous under stripPrefix with a member
      // literally named `b__c` vs nested-looking names
      case (NamePat(), NamePat()) if !ws.contains("..") &&
          !ws.contains("__") && !name.contains("..") &&
          !name.contains("__") =>
        val base = if (name.endsWith(".json")) name else s"$name.json"
        Some(dir.resolve(s"${ws}__$base"))
      case _ => None
    }

  control.foreach { cp =>
    server.createContext("/workspaces", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try routeWorkspaces(cp, ex)
        catch { case e: Exception => respond(ex, 500, s"error: ${e.getMessage}\n") }
        finally ex.close()
    })
    server.createContext("/daemon", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try routeDaemon(cp, ex)
        catch { case e: Exception => respond(ex, 500, s"error: ${e.getMessage}\n") }
        finally ex.close()
    })
    // section palette for the console's spec editor: the registry with
    // IO kinds, rendered with the reference's SectionIO spelling
    // (mycelial `config/src/lib.rs` none/bin/dataframe/bin_or_dataframe)
    server.createContext("/sections", new HttpHandler {
      private def kind(v: SectionIO.Value): String = v match {
        case SectionIO.None => "none"
        case SectionIO.Bin => "bin"
        case SectionIO.DataFrameIO => "dataframe"
        case _ => "bin_or_dataframe"
      }
      override def handle(ex: HttpExchange): Unit =
        try {
          if (ex.getRequestMethod != "GET") respond(ex, 405, "method not allowed\n")
          else respond(ex, 200, SectionRegistry.entries.toSeq.sortBy(_._1)
            .map { case (n, e) =>
              s"""{"name":"${jsonEscape(n)}","input":"${kind(e.io.input)}","output":"${kind(e.io.output)}"}"""
            }.mkString("[", ",", "]") + "\n")
        } catch { case e: Exception => respond(ex, 500, s"error: ${e.getMessage}\n") }
        finally ex.close()
    })
    // the operator console — the reference control plane's embedded-UI
    // fallback (`http/api/mod.rs:35-38` + `assets.rs`): every path no
    // API context claims serves the SPA. Longest-prefix dispatch keeps
    // /pipelines /specs /workspaces /daemon /sections authoritative.
    server.createContext("/", UiAssets.handler)
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def routeWorkspaces(cp: ControlPlane, ex: HttpExchange): Unit = {
    val rel = ex.getRequestURI.getPath.stripPrefix("/workspaces")
      .stripPrefix("/")
    val parts = rel.split("/").filter(_.nonEmpty).toList
    def admin(): Boolean = {
      val ok = adminAuthorized(ex)
      if (!ok) respond(ex, 401, "missing or bad bearer token\n")
      ok
    }
    (ex.getRequestMethod, parts) match {
      case ("GET", Nil) =>
        respond(ex, 200, cp.listWorkspaces()
          .map(n => s""""${jsonEscape(n)}"""").mkString("[", ",", "]") + "\n")
      case ("POST", Nil) => if (admin()) {
        val name = mapper.readTree(body(ex)).path("name").asText("")
        if (!NamePat.matches(name) || name.contains("__"))
          respond(ex, 400, "bad workspace name\n")
        else if (cp.createWorkspace(name)) respond(ex, 200, "\"ok\"\n")
        else respond(ex, 409, "workspace exists\n")
      }
      case ("GET", ws :: Nil) =>
        if (!cp.listWorkspaces().contains(ws))
          respond(ex, 404, "no such workspace\n")
        else {
          // workspace state = its member specs, secrets redacted (the
          // reference returns the workspace's nodes+edges — ours ARE the
          // pipeline graphs)
          val members = listing().filter(_.startsWith(s"${ws}__")).map { f =>
            val spec = PipelineSpec.fromJson(
              Files.readString(dir.resolve(f), UTF_8))
            val name = f.stripPrefix(s"${ws}__").stripSuffix(".json")
            s"""{"name":"${jsonEscape(name)}","spec":${PipelineSpec.display(spec)}}"""
          }
          respond(ex, 200,
            s"""{"name":"${jsonEscape(ws)}","specs":${members.mkString("[", ",", "]")}}\n""")
        }
      case ("DELETE", ws :: Nil) => if (admin()) {
        if (!cp.deleteWorkspace(ws)) respond(ex, 404, "no such workspace\n")
        else {
          // members stop on the next reconcile poll
          listing().filter(_.startsWith(s"${ws}__"))
            .foreach(f => Files.deleteIfExists(dir.resolve(f)))
          notifyChange()
          respond(ex, 200, "\"ok\"\n")
        }
      }
      case ("PUT" | "POST", ws :: "specs" :: name :: Nil) =>
        if (!authorized(ex)) respond(ex, 401, "missing or bad bearer token\n")
        else if (!cp.listWorkspaces().contains(ws))
          respond(ex, 404, "no such workspace\n")
        else wsSpecPath(ws, name) match {
          case Some(p) =>
            val b = body(ex)
            try {
              PipelineSpec.fromJson(b) // validate BEFORE anything lands
              val tmp = p.resolveSibling(s".${p.getFileName}.push")
              Files.writeString(tmp, b, UTF_8)
              Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
              notifyChange()
              respond(ex, 200, "ok\n")
            } catch { case e: Exception =>
              respond(ex, 400, s"invalid spec: ${e.getMessage}\n")
            }
          case None => respond(ex, 400, "bad spec name\n")
        }
      case ("DELETE", ws :: "specs" :: name :: Nil) =>
        if (!authorized(ex)) respond(ex, 401, "missing or bad bearer token\n")
        else wsSpecPath(ws, name) match {
          case Some(p) =>
            if (Files.deleteIfExists(p)) { notifyChange(); respond(ex, 200, "deleted\n") }
            else respond(ex, 404, "no such spec\n")
          case None => respond(ex, 400, "bad spec name\n")
        }
      case _ => respond(ex, 405, "method not allowed\n")
    }
  }

  private def routeDaemon(cp: ControlPlane, ex: HttpExchange): Unit = {
    val rel = ex.getRequestURI.getPath.stripPrefix("/daemon").stripPrefix("/")
    val parts = rel.split("/").filter(_.nonEmpty).toList
    def admin(): Boolean = {
      val ok = adminAuthorized(ex)
      if (!ok) respond(ex, 401, "missing or bad bearer token\n")
      ok
    }
    def tokenJson(t: ControlPlane.DaemonToken): String = {
      val used = t.usedAt.map(u => s""","used_at":$u""").getOrElse("")
      s"""{"id":"${jsonEscape(t.id)}","secret":"${jsonEscape(t.secret)}","issued_at":${t.issuedAt}$used}"""
    }
    (ex.getRequestMethod, parts) match {
      // join is authenticated by the token-possession hash in the BODY,
      // not a bearer header — the daemon does not hold a credential yet
      case ("POST", "join" :: Nil) =>
        val n = mapper.readTree(body(ex))
        cp.join(n.path("id").asText(), n.path("csr").asText(),
            n.path("hash").asText()) match {
          case Right((cert, caCert)) => respond(ex, 200,
            s"""{"certificate":"${jsonEscape(cert)}","ca_certificate":"${jsonEscape(caCert)}"}\n""")
          case Left((code, err)) =>
            respond(ex, code, s"""{"error":"${jsonEscape(err)}"}\n""")
        }
      case ("POST", "tokens" :: Nil) => if (admin())
        respond(ex, 200, tokenJson(cp.createToken()) + "\n")
      case ("GET", "tokens" :: Nil) => if (admin())
        respond(ex, 200,
          cp.listTokens().map(tokenJson).mkString("[", ",", "]") + "\n")
      case ("DELETE", "tokens" :: id :: Nil) => if (admin()) {
        if (cp.deleteToken(id)) respond(ex, 200, "deleted\n")
        else respond(ex, 404, "no such token\n")
      }
      case ("GET", Nil) =>
        // status/last_seen parity with the reference's list_daemons
        // (`control_plane/src/app/mod.rs:558-572`): stored records
        // default Offline; ids live on the push socket show Online
        respond(ex, 200, cp.listDaemons().map { d =>
          val nm = d.name.map(n => s""""${jsonEscape(n)}"""").getOrElse("null")
          val ls = d.lastSeen.map(_.toString).getOrElse("null")
          val st = if (presence.exists(_.isOnline(d.id))) "Online" else "Offline"
          s"""{"id":"${jsonEscape(d.id)}","name":$nm,"joined_at":${d.joinedAt},"last_seen":$ls,"status":"$st"}"""
        }.mkString("[", ",", "]") + "\n")
      case ("DELETE", id :: Nil) => if (admin()) {
        if (cp.deleteDaemon(id)) {
          // kick the live connection (the reference's shutdown_daemon on
          // delete, `control_plane/src/app/mod.rs:574-577`) — a deleted
          // daemon must not keep receiving pushes or serving GetGraph
          presence.foreach(_.kick(id))
          respond(ex, 200, "deleted\n")
        } else respond(ex, 404, "no such daemon\n")
      }
      case ("POST", "set_name" :: id :: Nil) => if (admin()) {
        val nm = mapper.readTree(body(ex)).path("name")
        val name = if (nm.isMissingNode || nm.isNull) scala.None
          else Some(nm.asText())
        if (cp.setDaemonName(id, name)) respond(ex, 200, "ok\n")
        else respond(ex, 404, "no such daemon\n")
      }
      case _ => respond(ex, 405, "method not allowed\n")
    }
  }

  private def bearer(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))

  /** Constant-time check against the static ADMIN token — the operator
    * credential that also guards the control-plane CRUD routes. */
  private def adminAuthorized(ex: HttpExchange): Boolean = token match {
    case scala.None => true
    case Some(t) => bearer(ex) match {
      case Some(b) => java.security.MessageDigest.isEqual(
        b.getBytes(UTF_8), t.getBytes(UTF_8))
      case scala.None => false
    }
  }

  /** Spec mutations accept the admin token OR any ISSUED (not deleted)
    * daemon token from the attached [[ControlPlane]] — issuance grants
    * push, deletion revokes it (the next push answers 401). Comparison
    * stays constant-time per candidate on both paths. */
  private def authorized(ex: HttpExchange): Boolean =
    adminAuthorized(ex) ||
      (control.isDefined && bearer(ex).exists(control.get.bearerAuthorized))

  private def route(ex: HttpExchange): Unit = {
    val rel = ex.getRequestURI.getPath.stripPrefix("/specs").stripPrefix("/")
    val mutating = ex.getRequestMethod match {
      case "PUT" | "POST" | "DELETE" => true
      case _ => false
    }
    if (mutating && !authorized(ex)) {
      respond(ex, 401, "missing or bad bearer token\n")
      return
    }
    (ex.getRequestMethod, rel) match {
      case ("GET", "") =>
        // UNGROUPED listing: workspace-member files (`ws__spec.json`) are
        // this route's namespace collision, not its content — they list
        // under `GET /workspaces/<ws>`. Filtering here also keeps a
        // legacy `__`-named ungrouped file (pushed before the `__` guard)
        // from being listed as reachable when GET-by-name now 400s; such
        // files remain removable via DELETE below.
        val names = listing().filterNot(_.contains("__"))
          .map(n => s""""$n"""").mkString("[", ",", "]")
        respond(ex, 200, names + "\n")
      case ("GET", name) => specPath(name) match {
        case Some(p) if Files.exists(p) =>
          // display surface: never echo secrets back
          val spec = PipelineSpec.fromJson(Files.readString(p, UTF_8))
          respond(ex, 200, PipelineSpec.display(spec) + "\n")
        case Some(_) => respond(ex, 404, "no such spec\n")
        case None => respond(ex, 400, "bad spec name\n")
      }
      case ("PUT" | "POST", name) => specPath(name) match {
        case Some(p) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          try {
            PipelineSpec.fromJson(body) // validate BEFORE anything lands
            val tmp = p.resolveSibling(s".${p.getFileName}.push")
            Files.writeString(tmp, body, UTF_8)
            Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            notifyChange()
            respond(ex, 200, "ok\n")
          } catch { case e: Exception =>
            respond(ex, 400, s"invalid spec: ${e.getMessage}\n")
          }
        case None => respond(ex, 400, "bad spec name\n")
      }
      case ("DELETE", name) => specPath(name).orElse(legacySpecPath(name)) match {
        case Some(p) =>
          if (Files.deleteIfExists(p)) { notifyChange(); respond(ex, 200, "deleted\n") }
          else respond(ex, 404, "no such spec\n")
        case None => respond(ex, 400, "bad spec name\n")
      }
      case _ => respond(ex, 405, "method not allowed\n")
    }
  }

  /** MIGRATION escape hatch for the `__` guard: an ungrouped spec file
    * pushed as `a__b` BEFORE the guard existed can no longer be read or
    * re-pushed through the API (by design — the name shadows workspace
    * `a`'s namespace), but it must stay REMOVABLE, or it runs forever
    * until someone deletes the file by hand. DELETE — and only DELETE —
    * therefore accepts `__` names (path-escape screens intact; the
    * authenticated caller may equally reach the same file through
    * `DELETE /workspaces/a`, so no new capability is granted). */
  private def legacySpecPath(name: String): Option[Path] = name match {
    case NamePat() if !name.contains("..") =>
      Some(dir.resolve(if (name.endsWith(".json")) name else s"$name.json"))
    case _ => None
  }

  /** Reject anything that could escape the spec dir (separators, `..`) —
    * the name IS the filename, never a path. `__` is also rejected
    * (mirroring the workspace-name guard): it is the workspace-member
    * filename separator, so an ungrouped spec pushed as `a__b` would
    * collide with workspace `a`'s namespace — listed by
    * `GET /workspaces/a` and collaterally deleted by
    * `DELETE /workspaces/a`, stopping an unrelated pipeline. */
  private def specPath(name: String): Option[Path] = name match {
    case NamePat() if !name.contains("..") && !name.contains("__") =>
      Some(dir.resolve(if (name.endsWith(".json")) name else s"$name.json"))
    case _ => None
  }

  private def listing(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).toSeq.sorted
    finally s.close()
  }

  /** Full JSON string escaping — backslash, quote, AND control chars:
    * a Failed pipeline whose exception message carries a newline or tab
    * must not render the status endpoint syntactically invalid. */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def start(): Unit = synchronized {
    if (!started) { server.start(); started = true }
  }

  def stop(): Unit = synchronized {
    if (started) { server.stop(0); started = false }
  }
}
