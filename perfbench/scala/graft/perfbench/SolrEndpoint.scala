package graft.perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for Solr's update handler: a JDK `HttpServer` on
  * 127.0.0.1 with at most 4 handler threads. It accepts the two requests
  * `SolrSink.write` sends (`/update/json/docs` batches and the `/update`
  * commit), counts documents, bytes and per-POST handling time, and records
  * every document id so the caller can check count and uniqueness.
  */
final class SolrEndpoint(threads: Int = 4) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  private val json = new JsonFactory()

  val posts = new AtomicLong
  val docs = new AtomicLong
  val bytes = new AtomicLong
  val commits = new AtomicLong
  val duplicateIds = new AtomicLong
  val postNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  private val ids = ConcurrentHashMap.newKeySet[String]()

  server.createContext("/solr/crawl/update", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/solr/crawl"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = ex.getRequestBody.readAllBytes()
      bytes.addAndGet(body.length)
      if (ex.getRequestURI.getPath.endsWith("/update/json/docs")) {
        // top-level array of flat documents: count objects, take each "id"
        val p = json.createParser(body)
        var depth = 0
        var n = 0L
        var tok = p.nextToken()
        while (tok != null) {
          tok match {
            case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
            case JsonToken.END_OBJECT | JsonToken.END_ARRAY =>
              depth -= 1
              if (depth == 1 && tok == JsonToken.END_OBJECT) n += 1
            case JsonToken.FIELD_NAME if depth == 2 && p.getCurrentName == "id" =>
              p.nextToken()
              if (!ids.add(p.getText)) duplicateIds.incrementAndGet()
            case _ =>
          }
          tok = p.nextToken()
        }
        docs.addAndGet(n)
        posts.incrementAndGet()
      } else commits.incrementAndGet()
      ex.sendResponseHeaders(200, -1)
    } catch {
      case _: Exception => ex.sendResponseHeaders(400, -1)
    } finally {
      ex.close()
      postNanos.add(System.nanoTime() - t0)
    }
  }

  def uniqueIds: Int = ids.size

  def reset(): Unit = {
    posts.set(0); docs.set(0); bytes.set(0); commits.set(0); duplicateIds.set(0)
    postNanos.clear(); ids.clear()
  }

  def stop(): Unit = if (!pool.isShutdown) {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
