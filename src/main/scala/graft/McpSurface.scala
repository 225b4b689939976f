package graft

import org.apache.spark.sql.DataFrame
import graft.model.{BackendPolicy, ErrorCodes, GraftException}

/** The outermost action-routed operator surface — the engine analog of the
  * two condensed MCP tools (reference: vector_mcp/mcp_server.py:83-199 and
  * :202-289; README.md:60-66). No server here — this is the library entry a
  * thin transport would wrap; the observable contract (action routing,
  * response shapes, error codes) is what the reference's
  * tests/test_mcp_server.py asserts.
  */
class McpSurface(
    api: Api,
    // Pluggable identity-entitlement resolver for listings — the engine
    // analog of the reference's identity-scoped resource filter
    // (mcp_server.py:61-80: caller's groups decide which resources list by
    // default; applied to list_collections at :179-198). (namespace,
    // names) => allowed names. FAIL-OPEN like the reference: a resolver
    // error must never break listing — the full set returns.
    entitlements: Option[(String, Seq[String]) => Seq[String]] = None
) { // non-final: specs override tool methods to inject latches

  /** Filter `names` through the entitlement resolver. Catalog order is
    * preserved and the resolver cannot invent names (intersection only);
    * any resolver exception degrades to the full set (mcp_server.py:79-80).
    */
  private def entitled(namespace: String, names: Seq[String]): Seq[String] =
    entitlements match {
      case None => names
      case Some(resolve) =>
        try {
          val allowed = resolve(namespace, names).toSet
          names.filter(allowed)
        } catch { case _: Exception => names }
    }

  /** vector_collection_management(action in {create_collection,
    * add_documents, delete_collection, list_collections}).
    */
  def vectorCollectionManagement(
      action: String,
      collectionName: String = null,
      overwrite: Boolean = false,
      documents: Option[DataFrame] = None,
      confirm: Boolean = false,
      dbType: String = null,
      nearDupThreshold: Option[Double] = None,
      nearDupMode: String = "embedding"): Map[String, Any] = {
    // fail-closed backend gate BEFORE any engine work (mcp_server.py:129)
    val backend = BackendPolicy.resolve(dbType)
    resolveAction(action, Set("create_collection", "add_documents",
      "delete_collection", "list_collections"),
      ErrorCodes.CollectionActionInvalid) match {
      case "create_collection" =>
        val st = api.createCollection(collectionName, overwrite, documents)
        Map("status" -> st.status, "collection" -> st.collection,
          "documents_added" -> st.documents_added, "db_type" -> backend)
      case "add_documents" =>
        val docs = documents.getOrElse(
          throw new GraftException(ErrorCodes.DocumentInputRequired))
        // engine-extension knob (like semanticMode): a threshold routes the
        // write through an index-pruned near-dup ingest gate —
        // nearDupMode "embedding" (cosine via the sign-LSH index) or
        // "content" (n-gram jaccard via the MinHash index); the action
        // contract and response shape are unchanged, with the rejection
        // count surfaced alongside
        nearDupThreshold match {
          case Some(t) =>
            val (written, rejected) = nearDupMode match {
              case "embedding" => api.addDocumentsDedup(collectionName, docs, t)
              case "content" => api.addDocumentsDedupContent(collectionName, docs, t)
              case _ => throw new GraftException(ErrorCodes.CollectionActionInvalid)
            }
            Map("status" -> "updated", "collection" -> collectionName,
              "documents_added" -> written, "documents_rejected" -> rejected,
              "db_type" -> backend)
          case None =>
            val added = api.addDocuments(collectionName, docs)
            Map("status" -> "updated", "collection" -> collectionName,
              "documents_added" -> added, "db_type" -> backend)
        }
      case "delete_collection" =>
        val st = api.deleteCollection(collectionName, confirm)
        Map("status" -> st.status, "collection" -> st.collection,
          "db_type" -> backend)
      case "list_collections" =>
        // entitlement filter on the LISTING only (namespace "collection",
        // mcp_server.py:189) — point lookups stay governed by their own
        // collection_not_found contract
        Map("collections" ->
          entitled("collection", api.listCollections())
            .map(n => Map("collection_name" -> n)),
          "db_type" -> backend)
    }
  }

  /** vector_search(action in {semantic_search, lexical_search, search}).
    *
    * The action set is byte-identical to the reference (any other action →
    * search_action_invalid, mcp_server.py:289). Engine execution VARIANTS —
    * which physical strategy serves the action — are routed through the
    * `semanticMode` / `lexicalMode` knobs instead of new actions, so the
    * observable action contract is untouched while index-backed serving is
    * first-class. The modes are [[McpSurface.SemanticModes]] and
    * [[McpSurface.LexicalModes]], plus the single-question
    * [[McpSurface.SingleQuestionModes]] (diverse, phrase) on the
    * one-sided actions. An unknown mode is governed like an unknown
    * action (the mode IS an action refinement): search_action_invalid.
    */
  def vectorSearch(
      action: String,
      collectionName: String,
      question: String,
      numberResults: Int = 10,
      semanticWeight: Double = 0.5,
      lexicalWeight: Double = 0.5,
      rrfK: Int = 60,
      dbType: String = null,
      semanticMode: String = "exact",
      lexicalMode: String = "scan"): Map[String, Any] =
    search(action, collectionName, Seq(question), single = true, numberResults,
      semanticWeight, lexicalWeight, rrfK, dbType, semanticMode, lexicalMode)

  /** Batched [[vectorSearch]] — the same actions and modes over a question
    * LIST, each route serving the whole batch in one plan (hybrid pairs
    * through `Api.searchIndexedMany`). Engine extension — the reference's
    * tools are single-question — with validation, mode routing and error
    * codes identical to the per-question tool: each question's hits, in
    * question order, equal what [[vectorSearch]] returns for it
    * (SearchParitySpec), without the per-question plan loop (the
    * QSweep-measured driver cliff). The maxsim and hybrid routes record
    * each hit's question under the "query_idx" metadata key. The
    * single-question modes (diverse re-rank, phrase) have no batch
    * semantics and are governed here like an unknown mode.
    */
  def vectorSearchMany(
      action: String,
      collectionName: String,
      questions: Seq[String],
      numberResults: Int = 10,
      semanticWeight: Double = 0.5,
      lexicalWeight: Double = 0.5,
      rrfK: Int = 60,
      dbType: String = null,
      semanticMode: String = "exact",
      lexicalMode: String = "scan"): Map[String, Any] =
    search(action, collectionName, questions, single = false, numberResults,
      semanticWeight, lexicalWeight, rrfK, dbType, semanticMode, lexicalMode)

  /** The one dispatch of both search tools: the backend gate, the action,
    * then the modes its legs use (semantic before lexical), normalized
    * like actions — "Exact"/" scan " behave identically on every action —
    * and served by `Api.route`.
    */
  private def search(
      action: String, collectionName: String, questions: Seq[String], single: Boolean,
      numberResults: Int, semanticWeight: Double, lexicalWeight: Double, rrfK: Int,
      dbType: String, semanticMode: String, lexicalMode: String): Map[String, Any] = {
    import McpSurface._
    val backend = BackendPolicy.resolve(dbType)
    val act = resolveAction(action, Set("semantic_search", "lexical_search", "search"),
      ErrorCodes.SearchActionInvalid)
    def mode(raw: String, modes: Seq[String]): String = resolveAction(raw,
      (modes ++ SingleQuestionModes.get(act).filter(_ => single)).toSet,
      ErrorCodes.SearchActionInvalid)
    val sem = if (act == "lexical_search") null else mode(semanticMode, SemanticModes)
    val lex = if (act == "semantic_search") null else mode(lexicalMode, LexicalModes)
    val res = api.route(act, sem, lex, collectionName, questions, numberResults,
      semanticWeight, lexicalWeight, rrfK, single)
    Map("results" -> res.results.map(h => Map(
      "id" -> h.id, "content" -> h.content,
      "metadata" -> h.metadata, "score" -> h.score)),
      "db_type" -> backend)
  }

  /** Verbose mode (reference README.md:67-82): seven per-operation tools,
    * one per action, dispatching to the SAME handlers as the two condensed
    * action-routed tools — identical validation, responses, and error
    * codes. A name outside the seven is governed with the family code of
    * the condensed tool it would have routed through; search-family names
    * are recognized by their `_search`/`search` suffix (mirroring the
    * reference where an unknown verbose tool simply is not registered).
    */
  def verboseTool(
      tool: String,
      collectionName: String = null,
      overwrite: Boolean = false,
      documents: Option[DataFrame] = None,
      confirm: Boolean = false,
      question: String = null,
      numberResults: Int = 10,
      semanticWeight: Double = 0.5,
      lexicalWeight: Double = 0.5,
      rrfK: Int = 60,
      dbType: String = null,
      semanticMode: String = "exact",
      lexicalMode: String = "scan"): Map[String, Any] = {
    val norm = Option(tool).getOrElse("").trim.toLowerCase.replace('-', '_')
    if (norm.endsWith("search"))
      vectorSearch(norm, collectionName, question, numberResults,
        semanticWeight, lexicalWeight, rrfK, dbType, semanticMode, lexicalMode)
    else
      vectorCollectionManagement(norm, collectionName, overwrite, documents,
        confirm, dbType)
  }

  /** Action normalization (mcp_server.py:116-125, :238-242; unmatched ->
    * collection_action_invalid / search_action_invalid, mcp_server.py:199,
    * :289): trim, casefold, dashes to underscores.
    */
  private def resolveAction(raw: String, allowed: Set[String], errCode: String): String = {
    val norm = Option(raw).getOrElse("").trim.toLowerCase.replace('-', '_')
    if (!allowed.contains(norm)) throw new GraftException(errCode)
    norm
  }
}

object McpSurface {
  /** The semantic modes both search tools serve, on semantic_search and
    * on the hybrid: exact (brute top-k) | approx (IVF partition-pruned,
    * numCandidates = max(10k,100)) | lsh (sign-LSH probe-pruned) | pq
    * (IVF-PQ: probe-pruned ADC over codes, exact re-rank) | maxsim
    * (late-interaction over the persisted chunk index; RRF consumes
    * ranks only, so it fuses like any other semantic leg).
    */
  val SemanticModes: Seq[String] = Seq("exact", "approx", "lsh", "pq", "maxsim")

  /** The lexical modes both search tools serve, on lexical_search and on
    * the hybrid: scan (TF over content) | indexed (TF from postings) |
    * bm25 (BM25 scan) | bm25_indexed (BM25 from postings).
    */
  val LexicalModes: Seq[String] = Seq("scan", "indexed", "bm25", "bm25_indexed")

  /** The one extra mode of each one-sided action, on the single-question
    * tool only: diverse (MMR re-ranked semantic serving) and phrase
    * (adjacency + order + snippet). Neither has batch or fusion
    * semantics.
    */
  val SingleQuestionModes: Map[String, String] =
    Map("semantic_search" -> "diverse", "lexical_search" -> "phrase")
}
