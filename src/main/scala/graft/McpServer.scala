package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{ErrorCodes, GraftException}

/** A served MCP transport binding [[McpSurface]] to a listener — closes the
  * reference's `mcp_server.py` drop-in gap. Implements the MCP
  * streamable-HTTP transport's JSON-RPC 2.0 core: `initialize`,
  * `notifications/initialized`, `ping`, `tools/list`, `tools/call`, with the
  * two condensed action-routed tools (reference README.md:60-66). Tool
  * errors surface as MCP tool results with `isError: true` and the governed
  * error code as text — the firewall (vector_api.py:268-282) applies, so
  * transport callers never see engine internals. Protocol-level failures are
  * JSON-RPC error objects (-32700 parse, -32600 invalid request, -32601
  * unknown method, -32602 invalid params).
  *
  * Spark-side: requests run on a bounded worker pool (the distributed
  * analog of the reference's `run_blocking` thread hop, mcp_server.py:288),
  * so a slow `tools/call` query never blocks `ping`/`initialize`/`/health`
  * for other callers; SparkSession actions are thread-safe by contract.
  * A `/health` route answers GET without touching Spark (parity:
  * tests/test_mcp_server.py:44-217). Browser-origin requests are subject to
  * DNS-rebinding protection: an `Origin` header, when present, must be
  * loopback or the request is rejected 403 (the MCP streamable-HTTP
  * transport's required origin validation).
  */
final class McpServer(
    surface: McpSurface,
    spark: org.apache.spark.sql.SparkSession,
    host: String = "127.0.0.1",
    port: Int = 0,
    workerThreads: Int = 8) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val sessions = new AtomicLong(0L)
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(
      workerThreads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-mcp-worker")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    server.createContext("/mcp", (ex: HttpExchange) => handle(ex))
    server.createContext("/health", (ex: HttpExchange) => health(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdownNow()
  }

  /** Liveness probe — static, never touches Spark or the surface. */
  private def health(ex: HttpExchange): Unit = {
    try {
      if (ex.getRequestMethod != "GET") reply(ex, 405, """{"error":"GET only"}""")
      else reply(ex, 200, """{"status":"ok","server":"graft"}""")
    } finally ex.close()
  }

  /** DNS-rebinding guard: a present Origin header must parse to a loopback
    * host. Non-browser clients (no Origin) pass through.
    */
  private def originAllowed(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Origin")).forall { o =>
      try {
        val h = java.net.URI.create(o).getHost
        h == "localhost" || h == "127.0.0.1" || h == "[::1]" || h == "::1"
      } catch { case _: Exception => false }
    }

  // ------------------------------------------------------------ dispatch

  private def handle(ex: HttpExchange): Unit = {
    try {
      if (!originAllowed(ex)) { reply(ex, 403, """{"error":"origin not allowed"}"""); return }
      if (ex.getRequestMethod != "POST") { reply(ex, 405, """{"error":"POST only"}"""); return }
      val req =
        try mapper.readTree(ex.getRequestBody.readAllBytes())
        catch { case _: Exception => reply(ex, 400, rpcError(null, -32700, "parse error")); return }
      val id = req.get("id")
      val method = Option(req.get("method")).map(_.asText()).getOrElse("")
      method match {
        case "initialize" =>
          val sid = s"graft-${sessions.incrementAndGet()}"
          ex.getResponseHeaders.add("Mcp-Session-Id", sid)
          reply(ex, 200, rpcResult(id, Map(
            "protocolVersion" -> "2025-03-26",
            "capabilities" -> Map("tools" -> Map("listChanged" -> false)),
            "serverInfo" -> Map("name" -> "graft", "version" -> "0.5.0"))))
        case "notifications/initialized" | "notifications/cancelled" =>
          reply(ex, 202, "") // notifications carry no response body
        case "ping" =>
          reply(ex, 200, rpcResult(id, Map.empty[String, Any]))
        case "tools/list" =>
          reply(ex, 200, rpcResult(id, Map("tools" -> toolList)))
        case "tools/call" =>
          val params = req.get("params")
          if (params == null || params.get("name") == null)
            reply(ex, 200, rpcError(id, -32602, "params.name required"))
          else {
            val tool = params.get("name").asText()
            // unknown tool is a PROTOCOL error (-32602 per MCP convention),
            // not a governed engine code — the tool never ran
            if (!McpServer.ToolNames.contains(tool))
              reply(ex, 200, rpcError(id, -32602, s"unknown tool: $tool"))
            else reply(ex, 200, rpcResult(id, callTool(tool, params.get("arguments"))))
          }
        case "" => reply(ex, 200, rpcError(id, -32600, "method required"))
        case other => reply(ex, 200, rpcError(id, -32601, s"unknown method: $other"))
      }
    } catch {
      case e: Exception => // last-resort firewall: nothing internal leaks
        try reply(ex, 500, rpcError(null, -32603,
          ErrorCodes.firewall(Option(e.getMessage).getOrElse(""))))
        catch { case _: Exception => () }
    } finally ex.close()
  }

  // --------------------------------------------------------------- tools

  private def toolList: Seq[Map[String, Any]] = Seq(
    Map(
      "name" -> "vector_collection_management",
      "description" -> ("Manage vector collections: create_collection, " +
        "add_documents, delete_collection, list_collections"),
      "inputSchema" -> Map(
        "type" -> "object",
        "properties" -> Map(
          "action" -> Map("type" -> "string"),
          "collection_name" -> Map("type" -> "string"),
          "overwrite" -> Map("type" -> "boolean"),
          "document_contents" -> Map("type" -> "array",
            "items" -> Map("type" -> "string")),
          "confirm" -> Map("type" -> "boolean"),
          "db_type" -> Map("type" -> "string")),
        "required" -> Seq("action"))),
    Map(
      "name" -> "vector_search",
      "description" -> ("Search a collection: semantic_search, " +
        "lexical_search, or hybrid search (weighted RRF fusion)"),
      "inputSchema" -> Map(
        "type" -> "object",
        "properties" -> Map(
          "action" -> Map("type" -> "string"),
          "collection_name" -> Map("type" -> "string"),
          "question" -> Map("type" -> "string"),
          "number_results" -> Map("type" -> "integer"),
          "semantic_weight" -> Map("type" -> "number"),
          "lexical_weight" -> Map("type" -> "number"),
          "rrf_k" -> Map("type" -> "integer"),
          "db_type" -> Map("type" -> "string"),
          "semantic_mode" -> Map("type" -> "string",
            "description" -> "exact (default) | approx | lsh | pq | diverse | maxsim"),
          "lexical_mode" -> Map("type" -> "string",
            "description" -> "scan (default) | indexed | bm25 | bm25_indexed | phrase")),
        "required" -> Seq("action", "collection_name", "question"))))

  private def callTool(name: String, args: JsonNode): Map[String, Any] = {
    def s(k: String): String =
      if (args == null || args.get(k) == null) null else args.get(k).asText()
    def b(k: String): Boolean =
      args != null && args.get(k) != null && args.get(k).asBoolean(false)
    def i(k: String, dflt: Int): Int =
      if (args == null || args.get(k) == null) dflt else args.get(k).asInt(dflt)
    def d(k: String, dflt: Double): Double =
      if (args == null || args.get(k) == null) dflt else args.get(k).asDouble(dflt)
    try {
      val result: Map[String, Any] = name match {
        case "vector_collection_management" =>
          val docs = Option(args).flatMap(a => Option(a.get("document_contents")))
            .filter(_.isArray).filter(_.size() > 0)
            .map { arr =>
              val contents = (0 until arr.size()).map(arr.get(_).asText())
              graft.ingest.Loaders.loadInline(spark, contents)
            }
          surface.vectorCollectionManagement(
            action = s("action"), collectionName = s("collection_name"),
            overwrite = b("overwrite"), documents = docs,
            confirm = b("confirm"), dbType = s("db_type"))
        case "vector_search" =>
          surface.vectorSearch(
            action = s("action"), collectionName = s("collection_name"),
            question = s("question"), numberResults = i("number_results", 10),
            semanticWeight = d("semantic_weight", 0.5),
            lexicalWeight = d("lexical_weight", 0.5),
            rrfK = i("rrf_k", 60), dbType = s("db_type"),
            semanticMode = Option(s("semantic_mode")).getOrElse("exact"),
            lexicalMode = Option(s("lexical_mode")).getOrElse("scan"))
        case _ => // unreachable: dispatch rejects unknown tools with -32602
          throw new GraftException(ErrorCodes.CollectionActionInvalid)
      }
      Map("content" -> Seq(Map("type" -> "text",
        "text" -> mapper.writeValueAsString(result))), "isError" -> false)
    } catch {
      case g: GraftException =>
        Map("content" -> Seq(Map("type" -> "text", "text" -> g.code)),
          "isError" -> true)
      case e: Exception =>
        Map("content" -> Seq(Map("type" -> "text",
          "text" -> ErrorCodes.firewall(Option(e.getMessage).getOrElse("")))),
          "isError" -> true)
    }
  }

  // ---------------------------------------------------------------- json

  private def rpcResult(id: JsonNode, result: Any): String =
    mapper.writeValueAsString(Map("jsonrpc" -> "2.0",
      "id" -> (if (id == null) null else mapper.treeToValue(id, classOf[Any])),
      "result" -> result))

  private def rpcError(id: JsonNode, code: Int, message: String): String =
    mapper.writeValueAsString(Map("jsonrpc" -> "2.0",
      "id" -> (if (id == null) null else mapper.treeToValue(id, classOf[Any])),
      "error" -> Map("code" -> code, "message" -> message)))

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    if (bytes.isEmpty) ex.sendResponseHeaders(status, -1)
    else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
  }
}

object McpServer {
  /** The served tool surface (reference README.md:60-66). */
  val ToolNames: Set[String] = Set("vector_collection_management", "vector_search")
}
