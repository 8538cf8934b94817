package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.security.KeyStore
import java.security.cert.X509Certificate
import java.util.Base64
import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManager, X509TrustManager}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.GraftServer

/** TLS + basic-auth API surface (reference: test/test_api.py:644-750):
  * https round trip, 401 without/with-wrong credentials, 200 with correct
  * ones, and the basic-auth-requires-TLS guard. */
class TlsApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  var server: GraftServer = _

  private def serverSsl(): SSLContext = {
    // Self-signed server cert generated with the JDK's keytool.
    val dir = java.nio.file.Files.createTempDirectory("graft-tls")
    val ksPath = dir.resolve("server.p12")
    val proc = new ProcessBuilder("keytool", "-genkeypair", "-alias", "server",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-dname", "CN=localhost", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit")
      .redirectErrorStream(true).start()
    assert(proc.waitFor() == 0, "keytool failed")
    val ks = KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(ksPath)
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  private def trustAllClient(): HttpClient = {
    val trustAll: Array[TrustManager] = Array(new X509TrustManager {
      override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    })
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, trustAll, new java.security.SecureRandom())
    HttpClient.newBuilder().sslContext(ctx).build()
  }

  override def beforeAll(): Unit = {
    server = new GraftServer(spark, 0, ssl = Some(serverSsl()),
      basicAuth = Some(("alice", "secret")))
    server.start()
  }
  override def afterAll(): Unit = if (server != null) server.stop()

  lazy val client = trustAllClient()

  private def req(path: String) =
    HttpRequest.newBuilder(URI.create(
      s"https://localhost:${server.boundPort}/qcache$path"))

  private def auth(user: String, pass: String): String =
    "Basic " + Base64.getEncoder.encodeToString(s"$user:$pass".getBytes(UTF_8))

  test("https: unauthenticated requests get 401 with a challenge") {
    val r = client.send(req("/status").GET().build(), BodyHandlers.ofString())
    assert(r.statusCode() == 401)
    assert(r.headers().firstValue("WWW-Authenticate").isPresent)
    val wrong = client.send(req("/status").GET()
      .header("Authorization", auth("alice", "nope")).build(), BodyHandlers.ofString())
    assert(wrong.statusCode() == 401)
  }

  test("https: authenticated store + query round trip") {
    val a = auth("alice", "secret")
    val stored = client.send(req("/dataset/tls1")
      .POST(BodyPublishers.ofString("foo,bar\n1,x\n2,y\n"))
      .header("Content-Type", "text/csv")
      .header("Authorization", a).build(), BodyHandlers.ofString())
    assert(stored.statusCode() == 201)
    val r = client.send(req("/dataset/tls1?q=" +
      java.net.URLEncoder.encode("""{"where": ["==", "foo", 2]}""", UTF_8)).GET()
      .header("Authorization", a).build(), BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.body() == """[{"foo":2,"bar":"y"}]""")
  }

  test("basic auth without TLS is refused at construction") {
    assertThrows[IllegalArgumentException] {
      new GraftServer(spark, 0, basicAuth = Some(("u", "p")))
    }
  }
}
