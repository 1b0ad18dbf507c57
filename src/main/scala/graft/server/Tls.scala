package graft.server

import java.io.FileInputStream
import java.security.KeyStore

import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

/**
 * TLS configuration for the serving facades — the analog of the reference's
 * SSL server setup (server/src/main/java/timely/server/Server.java:164
 * builds the SslContext from configured cert/key material and Server.java:490
 * installs it in front of the HTTP pipeline; one-way and two-way modes are
 * pinned by the OneWaySSLBase / TwoWaySSLIT integration bases).
 *
 *  - ONE-WAY: the server presents `keystore`; clients verify it against
 *    their truststore. No client certificate is requested; callers
 *    authenticate with the login/cookie flow (or anonymously, per policy).
 *  - TWO-WAY (`needClientAuth = true`): the handshake additionally REQUIRES
 *    a client certificate chaining to `truststore`; an untrusted client cert
 *    fails the handshake outright (TwoWaySSLFailureIT), and the verified
 *    subject DN becomes the caller's identity
 *    ([[AuthSessions.caller]] — the FileUserDetailsService analog).
 *
 * Key material is standard JDK keystore files (PKCS12) — what `keytool`
 * emits and what every JVM deployment already manages; no custom cert
 * parsing anywhere.
 */
object Tls {

  /**
   * @param keystorePath    PKCS12 with the server's key + cert chain
   * @param keystorePass    its password (also used for the key entry)
   * @param truststorePath  PKCS12 with the CAs/certs to trust for CLIENT
   *                        certificates (two-way mode); None = JVM default
   * @param needClientAuth  true = two-way TLS (client cert REQUIRED)
   */
  final case class Config(
      keystorePath: String,
      keystorePass: String,
      truststorePath: Option[String] = None,
      truststorePass: String = "",
      needClientAuth: Boolean = false) {

    /** Server-side SSLContext from the configured stores. */
    def sslContext(): SSLContext =
      Tls.context(Some((keystorePath, keystorePass)),
        truststorePath.map(p => (p, truststorePass)))
  }

  /** Build an SSLContext from optional (path, password) keystore and
    * truststore PKCS12 files — shared by the server configs and the
    * client/IT side (`clientContext`). */
  def context(keystore: Option[(String, String)],
              truststore: Option[(String, String)]): SSLContext = {
    val kms = keystore.map { case (path, pass) =>
      val ks = load(path, pass)
      val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pass.toCharArray)
      kmf.getKeyManagers
    }.orNull
    val tms = truststore.map { case (path, pass) =>
      val ts = load(path, pass)
      val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ts)
      tmf.getTrustManagers
    }.orNull
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kms, tms, null)
    ctx
  }

  /** A CLIENT SSLContext: trust `truststorePath`, optionally presenting the
    * client identity in `keystorePath` (two-way mode). */
  def clientContext(truststorePath: String, truststorePass: String,
                    keystorePath: Option[String] = None,
                    keystorePass: String = ""): SSLContext =
    context(keystorePath.map(p => (p, keystorePass)),
      Some((truststorePath, truststorePass)))

  private def load(path: String, pass: String): KeyStore = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new FileInputStream(path)
    try ks.load(in, pass.toCharArray) finally in.close()
    ks
  }
}
