package graft.server

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

/**
 * Session-based authentication for the serving facades — the Spark-side
 * analog of the reference's auth subsystem: a login produces a session id
 * delivered as the `TSESSIONID` cookie (reference
 * common/src/main/java/timely/netty/Constants.java:10,
 * TimelyLoginRequestHandler.java:44-58), later requests carry the cookie and
 * resolve to the subject's authorizations
 * (HttpRequestDecoder.java:57-75,120-131, DataStore.getSessionAuthorizations
 * -> AuthenticationService, DataStore.java:1045-1047), and an unknown/absent
 * session falls back to the anonymous principal — no authorizations, so the
 * visibility filter serves only unlabeled points — or is refused outright
 * when anonymous access is disabled (SecurityProperties.allowAnonymousHttpAccess /
 * allowAnonymousWsAccess, exercised by WebSocketClientIT.testClientAnonymousAccess).
 *
 * Identity comes from either of the reference's two credential paths:
 *  - username/password login -> session cookie (TimelyLoginRequestHandler);
 *  - a TLS client certificate's subject DN (two-way SSL), mapped to the
 *    subject's authorizations by `dnUsers` — the analog of the reference's
 *    FileUserDetailsService (X509 subject -> user details,
 *    FileUserDetailsServiceIT.java; the X509LoginRequestHandler resolves the
 *    verified peer DN the same way). DNs are compared in RFC 2253 canonical
 *    form so `CN=x, OU=y` and `cn=x,ou=y` are the same subject.
 */
class AuthSessions(
    users: Map[String, AuthSessions.User],
    val allowAnonymous: Boolean = false,
    sessionMaxAgeMs: Long = 8L * 3600 * 1000,
    nowMs: () => Long = () => System.currentTimeMillis(),
    dnUsers: Map[String, Seq[String]] = Map.empty) {

  private val dnAuths: Map[String, Seq[String]] =
    dnUsers.map { case (dn, a) => AuthSessions.canonicalDn(dn) -> a }

  private case class Session(auths: Seq[String], expiresAt: Long)
  private val sessions = new ConcurrentHashMap[String, Session]()

  /** Authenticate; on success mint a session id (the reference mints a UUID
    * per login — TimelyLoginRequestHandler.java:44). None = bad credentials. */
  def login(username: String, password: String): Option[String] =
    users.get(username).filter(_.password == password).map { u =>
      val id = UUID.randomUUID().toString
      sessions.put(id, Session(u.auths, nowMs() + sessionMaxAgeMs))
      id
    }

  /**
   * Resolve a request's session to authorizations.
   *  - live session        -> Some(its auths)
   *  - absent/unknown/expired + anonymous allowed -> Some(Nil) (anonymous
   *    principal: the viz filter then passes only unlabeled points)
   *  - otherwise           -> None (the facade answers 401)
   */
  def resolve(sessionId: Option[String]): Option[Seq[String]] = {
    val live = sessionId.flatMap { id =>
      Option(sessions.get(id)).flatMap { s =>
        if (s.expiresAt > nowMs()) Some(s.auths)
        else { sessions.remove(id); None }
      }
    }
    live.orElse(if (allowAnonymous) Some(Seq.empty) else None)
  }

  /**
   * Resolve a TLS-verified peer DN (two-way SSL) plus the request's cookie
   * to authorizations. The certificate identity WINS over any cookie — it
   * was verified cryptographically in the handshake (the reference's X509
   * path likewise bypasses the login flow); an unmapped-but-verified DN
   * falls through to the cookie/anonymous rules.
   */
  def resolveCert(peerDn: Option[String], sessionId: Option[String]): Option[Seq[String]] =
    peerDn.map(AuthSessions.canonicalDn).flatMap(dnAuths.get)
      .map(Some(_))
      .getOrElse(resolve(sessionId))
}

object AuthSessions {
  /** One credential entry: password + the subject's visibility authorizations. */
  case class User(password: String, auths: Seq[String])

  /** The reference's session cookie name (Constants.java:10). */
  val CookieName = "TSESSIONID"

  /** RFC 2253 canonical form of an X.500 DN — insensitive to attribute
    * spacing/case, so config strings and certificate subjects compare by
    * identity, not formatting. */
  def canonicalDn(dn: String): String =
    new javax.security.auth.x500.X500Principal(dn)
      .getName(javax.security.auth.x500.X500Principal.CANONICAL)

  /** The caller's authorizations, the one resolution every transport uses:
    * the TLS session's verified client-certificate subject first, then the
    * `Cookie` header's session. Without a store every caller is anonymous
    * (no authorizations). None = refuse (HTTP 401). */
  def caller(sessions: Option[AuthSessions], tls: Option[javax.net.ssl.SSLSession],
             cookieHeader: Option[String]): Option[Seq[String]] = sessions match {
    case None => Some(Seq.empty)
    case Some(store) =>
      val peerDn = tls.flatMap { s =>
        try Option(s.getPeerPrincipal).map(_.getName)
        catch { case _: javax.net.ssl.SSLPeerUnverifiedException => None }
      }
      store.resolveCert(peerDn, sessionFromCookie(cookieHeader))
  }

  /** Extract the session id from a `Cookie` header value (first TSESSIONID,
    * like HttpRequestDecoder.getSessionId). */
  def sessionFromCookie(cookieHeader: Option[String]): Option[String] =
    cookieHeader.flatMap { h =>
      h.split(";").iterator.map(_.trim).collectFirst {
        case c if c.startsWith(CookieName + "=") =>
          c.substring(CookieName.length + 1)
      }
    }
}
