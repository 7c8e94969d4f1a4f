package graft

import java.net.{InetAddress, InetSocketAddress, URI}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.bank.HttpConditionalPutClaimStore

/** [[HttpConditionalPutClaimStore]] against an in-process HTTP server
  * on loopback that answers a scripted status per request and records
  * what it received.
  */
class HttpClaimStoreSpec extends AnyFunSuite {

  private case class Received(method: String, path: String,
                              headers: Map[String, Seq[String]], body: String) {
    def header(name: String): Seq[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        .getOrElse(Nil)
  }

  /** Runs `f` against a server answering `statuses` in order (the last
    * one repeats); returns what `f` returned and what the server got.
    */
  private def withServer[T](statuses: Int*)(f: HttpConditionalPutClaimStore => T)
      : (T, Seq[Received]) = {
    val got = new ConcurrentLinkedQueue[Received]()
    val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val headers = ex.getRequestHeaders.asScala.map { case (k, v) =>
        k -> v.asScala.toSeq }.toMap
      got.add(Received(ex.getRequestMethod, ex.getRequestURI.getPath, headers, body))
      val status = statuses(math.min(got.size - 1, statuses.size - 1))
      ex.sendResponseHeaders(status, -1)
      ex.close()
    })
    server.start()
    try {
      val store = new HttpConditionalPutClaimStore(
        new URI(s"http://127.0.0.1:${server.getAddress.getPort}/store/"),
        sign = b => b.header("Authorization", "token-1"),
        maxRetries = 3)
      val out = f(store)
      (out, got.asScala.toSeq)
    } finally server.stop(0)
  }

  private val claim = new Path("s3a://bucket/t/_txlog/5.json")
  private val bytes = "{\"commit\":5}".getBytes("UTF-8")

  test("putIfAbsent sends If-None-Match: * and wins on 2xx") {
    val (won, got) = withServer(201)(_.putIfAbsent(claim, bytes))
    assert(won)
    assert(got.size == 1)
    val r = got.head
    assert(r.method == "PUT")
    assert(r.path == "/store/bucket/t/_txlog/5.json")
    assert(r.header("If-None-Match") == Seq("*"))
    assert(r.header("Authorization") == Seq("token-1"))
    assert(r.body == "{\"commit\":5}")
  }

  test("a 412 is a lost race: false, no retry") {
    val (won, got) = withServer(412)(_.putIfAbsent(claim, bytes))
    assert(!won)
    assert(got.size == 1)
  }

  test("put sends no condition") {
    val (_, got) = withServer(200)(_.put(claim, bytes))
    assert(got.size == 1)
    assert(got.head.method == "PUT")
    assert(got.head.header("If-None-Match").isEmpty)
    assert(got.head.body == "{\"commit\":5}")
  }

  test("a 500 then a 200 retries once, with each header sent once per attempt") {
    val (won, got) = withServer(500, 200)(_.putIfAbsent(claim, bytes))
    assert(won)
    assert(got.size == 2)
    got.foreach { r =>
      assert(r.header("If-None-Match") == Seq("*"))
      assert(r.header("Authorization") == Seq("token-1"))
      assert(r.body == "{\"commit\":5}")
    }
  }

  test("a 403 fails fast with an IOException") {
    var err: Throwable = null
    val (_, got) = withServer(403) { store =>
      err = intercept[java.io.IOException](store.putIfAbsent(claim, bytes))
    }
    assert(err.getMessage.contains("403"), err.getMessage)
    assert(got.size == 1)
  }
}
