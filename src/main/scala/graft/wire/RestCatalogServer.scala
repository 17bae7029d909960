package graft.wire

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInitializer, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http._

import graft.sources.{FieldIds, GraftCatalog, GraftError, IcebergMetadataJson}

import scala.jdk.CollectionConverters._

/** Iceberg-REST-catalog-shaped JSON doorway over [[GraftCatalog]] — the
  * reference ecosystem's OTHER deployment shape (an Iceberg compactor is
  * normally pointed at a REST catalog endpoint; the reference reaches its
  * catalog through `SqlCatalog`, `core/src/compaction/mod.rs:183-202`).
  * Serving the same head/snapshot surface REST-shaped means an ecosystem
  * client can browse AND write this catalog with zero graft imports.
  *
  * Routes (namespaced: the catalog's flat root is the implicit `default`
  * namespace; created namespaces are marker directories whose tables are
  * addressed by `/`-joined catalog names, `GraftCatalog.createNamespace`.
  * Multi-level namespaces use the spec's 0x1F unit separator in URLs):
  *
  *   - `GET /v1/config` → `{"defaults":{},"overrides":{}}`
  *   - `GET /v1/namespaces[?parent=ns]` → namespace listing (top level =
  *     `default` + root namespaces; `parent` lists direct children)
  *   - `POST /v1/namespaces` → CreateNamespace (`namespace` parts array +
  *     `properties`): 409 existing, 404 missing parent, 400 reserved names
  *   - `GET /v1/namespaces/{ns}` → namespace + properties; 404 unknown
  *   - `DELETE /v1/namespaces/{ns}` → drop empty namespace: 204, 409
  *     `NamespaceNotEmptyException` with live tables/children, 400 default
  *   - `POST /v1/namespaces/{ns}/properties` → update/remove namespace
  *     properties with the spec's updated/removed/missing report
  *   - `GET /v1/namespaces/{ns}/tables` → table identifier list;
  *     paginated per the spec via `pageSize`/`pageToken` (opaque cursor =
  *     last identifier served; `next-page-token` present only when the
  *     page was truncated)
  *   - `GET /v1/namespaces/default/tables/{t}` → LoadTableResult: the
  *     spec's required TableMetadata fields (location, last-updated-ms,
  *     last-column-id, schemas, partition-specs, sort-orders,
  *     last-sequence-number, …), the snapshot log with per-snapshot
  *     commit summaries, and `refs` (main branch + every tag).
  *   - `DELETE /v1/namespaces/default/tables/{t}` → DROP (metadata only,
  *     Iceberg's drop-without-purge): 204 on success, 409 while live
  *     forks block the drop.
  *   - `POST /v1/tables/rename` → RENAME: `source`/`destination`
  *     TableIdentifiers; 204 / 404 missing source / 409 existing
  *     destination.
  *   - `POST /v1/namespaces/{ns}/register` → RegisterTable: mount an
  *     existing Iceberg table by `metadata-location`
  *     ([[GraftCatalog.importTable]] walks the chain, registers by
  *     reference); 409 taken name, 400 unwalkable chain.
  *   - `POST /v1/namespaces/{ns}/tables/{t}/statistics` → ANALYZE
  *     (extension; the REST spec has no such op): body
  *     `{"mode":"full"|"incremental"}`, runs the catalog's distributed
  *     theta-sketch pass — requires a SparkSession in this process.
  *   - `POST /v1/namespaces/default/tables` → CREATE: body carries `name`
  *     and optionally an Iceberg struct `schema` (field ids preserved into
  *     the catalog's canonical schema). 409 `AlreadyExistsException` when
  *     the table exists.
  *   - `POST /v1/namespaces/default/tables/{t}` → COMMIT: body carries the
  *     spec's `requirements` (`assert-ref-snapshot-id` on `main` maps onto
  *     the catalog's optimistic commit — under a store-backed head the
  *     [[GraftCatalog]] CAS re-checks the same base) and `updates`. The
  *     supported updates are `add-data-files`, `set-properties` /
  *     `remove-properties`, `set-snapshot-ref` (rollback), and the
  *     schema-evolution pair `add-schema` + `set-current-schema-id: -1`
  *     (mapped onto the catalog's field-id-checked `evolveSchema`;
  *     illegal evolutions get the spec's 400). `add-data-files`
  *     (documented deviation: this
  *     catalog's manifests are inline file lists, so the added files ride
  *     the update body instead of a manifest-list location), each file as
  *     `{"file-path","file-format","record-count","file-size-in-bytes"}`.
  *     A stale base gets the spec's 409 `CommitFailedException` envelope.
  *   - errors use the spec's envelope
  *     (`{"error":{"message":…,"type":…,"code":…}}`): 404
  *     `NoSuchTableException`, 400 `BadRequestException` for malformed
  *     bodies/URIs, 409 for conflicts.
  *
  * Transport is HTTP/1.1 (netty-codec-http, already on the Spark runtime
  * classpath) rather than the gRPC doorway's h2c: REST catalog clients —
  * curl, `HttpURLConnection`, the Iceberg REST client itself — speak
  * plain HTTP/1.1, and prior-knowledge h2 would shut all of them out.
  * Same scaffolding shape as [[GrpcCompactionServer]]: one daemon event
  * loop, loopback bind, port 0 for tests. Requests are served from
  * catalog METADATA only (snapshot documents + refs — no SparkSession,
  * no data IO), so the doorway stays cheap no matter the table size: the
  * same O(metadata) contract the reference's catalog layer has. Commits
  * reference files an external engine already wrote — the facade never
  * opens them (Iceberg catalog semantics: the catalog swaps pointers,
  * engines move data).
  */
final class RestCatalogServer(
    catalog: GraftCatalog, port: Int = 0,
    exportOnLoad: Boolean = false,
    // the FileSystem conf register-table walks foreign chains with — a
    // metadata-location on s3://wasb://gs:// needs the FileIO mappings
    hadoopConf: org.apache.hadoop.conf.Configuration =
      graft.sources.CompactionRunner.defaultHadoopConf()) {

  import RestCatalogServer._

  private val group = new NioEventLoopGroup(1, (r: Runnable) => {
    val t = new Thread(r, "graft-rest-eventloop"); t.setDaemon(true); t
  })

  private val channel: Channel = new ServerBootstrap()
    .group(group)
    .channel(classOf[NioServerSocketChannel])
    .childHandler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit =
        ch.pipeline().addLast(
          new HttpServerCodec(),
          new HttpObjectAggregator(1 << 20),
          new Handler(catalog, exportOnLoad, hadoopConf))
    })
    .bind(InetAddress.getLoopbackAddress, port).sync().channel()

  def boundPort: Int =
    channel.localAddress().asInstanceOf[InetSocketAddress].getPort

  def close(): Unit = {
    channel.close().sync()
    group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object RestCatalogServer {

  private val mapper = new ObjectMapper()

  /** Memoized `last-sequence-number` per (root, table, uuid, head) —
    * immutable at a given head (snapshot documents are write-once; the
    * uuid discriminates drop-and-recreate). Crudely bounded by
    * clear-on-overflow, like the catalog's segment cache.
    */
  private val lastSeqCache = {
    val m = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String, Long), Long]()
    m
  }

  private def lastSeqCacheGuard(): Unit =
    if (lastSeqCache.size > 65536) lastSeqCache.clear()

  private final class Handler(
      catalog: GraftCatalog, exportOnLoad: Boolean,
      hadoopConf: org.apache.hadoop.conf.Configuration)
      extends SimpleChannelInboundHandler[FullHttpRequest] {

    override def channelRead0(ctx: ChannelHandlerContext, req: FullHttpRequest): Unit = {
      val (status, body) =
        try route(catalog, req.method(), req.uri(),
          req.content().toString(StandardCharsets.UTF_8), exportOnLoad,
          hadoopConf)
        catch { case e: Exception =>
          // e.getMessage may be null (bare NPEs): the envelope must still
          // render or the client sees a reset instead of the 500
          HttpResponseStatus.INTERNAL_SERVER_ERROR ->
            errorJson(Option(e.getMessage).getOrElse(e.getClass.getName),
              "InternalServerError", 500)
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      val resp = new DefaultFullHttpResponse(
        HttpVersion.HTTP_1_1, status, Unpooled.wrappedBuffer(bytes))
      resp.headers()
        .set(HttpHeaderNames.CONTENT_TYPE, "application/json")
        .setInt(HttpHeaderNames.CONTENT_LENGTH, bytes.length)
      if (HttpUtil.isKeepAlive(req)) {
        resp.headers().set(HttpHeaderNames.CONNECTION, HttpHeaderValues.KEEP_ALIVE)
        ctx.writeAndFlush(resp)
      } else {
        // HTTP/1.0 or Connection: close — the peer reads to EOF; leaving
        // the socket open hangs it and leaks the connection on our loop
        ctx.writeAndFlush(resp)
          .addListener(io.netty.channel.ChannelFutureListener.CLOSE)
      }
    }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close()
  }

  private[wire] def route(
      catalog: GraftCatalog,
      method: HttpMethod,
      uri: String,
      body: String = "",
      exportOnLoad: Boolean = false,
      hadoopConf: org.apache.hadoop.conf.Configuration =
        graft.sources.CompactionRunner.defaultHadoopConf()): (HttpResponseStatus, String) = {
    val path = uri.takeWhile(_ != '?')
    // percent-decode ONLY: URLDecoder is form decoding, where '+' means
    // space — but '+' is a legal literal path character (RFC 3986), so a
    // table named a+b would decode to "a b" and 404 right after being
    // listed. Escaping '+' first makes URLDecoder a pure percent-decoder.
    // Malformed percent-escapes are the CLIENT's error: a 400, not the
    // catch-all 500.
    def dec(s: String) =
      java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
    val (segs, query) =
      try {
        val s = path.split('/').filter(_.nonEmpty).toSeq.map(dec)
        val qs = uri.dropWhile(_ != '?').drop(1)
        val kv = qs.split('&').filter(_.nonEmpty).toSeq.map { p =>
          p.split("=", 2) match {
            case Array(k, v) => dec(k) -> dec(v)
            case Array(k) => dec(k) -> ""
          }
        }.toMap
        (s, kv)
      } catch { case e: IllegalArgumentException =>
        return HttpResponseStatus.BAD_REQUEST ->
          errorJson(s"malformed percent-encoding in request: " +
            Option(e.getMessage).getOrElse(uri), "BadRequestException", 400)
      }
    (method, segs) match {
      case (HttpMethod.GET, Seq("v1", "config")) =>
        HttpResponseStatus.OK -> """{"defaults":{},"overrides":{}}"""
      case (HttpMethod.GET, Seq("v1", "namespaces")) =>
        // top level lists `default` + root namespaces; `parent=<ns>` lists
        // that namespace's DIRECT children (the spec's nested listing)
        query.get("parent") match {
          case None =>
            val roots = catalog.namespaces().filterNot(_.contains("/"))
            HttpResponseStatus.OK -> ("""{"namespaces":[["default"]""" +
              roots.map(n => s",[${q(n)}]").mkString + "]}")
          case Some(p) =>
            val parts = nsParts(p)
            if (parts == Seq("default"))
              // the implicit root namespace has no children (namespaces
              // live beside it, not under it)
              HttpResponseStatus.OK -> """{"namespaces":[]}"""
            else if (!catalog.namespaceExists(parts.mkString("/")))
              nsNotFound(parts)
            else {
              val prefix = parts.mkString("/") + "/"
              val kids = catalog.namespaces()
                .filter(n => n.startsWith(prefix) && !n.drop(prefix.length).contains("/"))
              HttpResponseStatus.OK -> ("""{"namespaces":[""" +
                kids.map(nk => nsJson(nk.split('/').toSeq)).mkString(",") + "]}")
            }
        }
      case (HttpMethod.POST, Seq("v1", "namespaces")) =>
        createNamespace(catalog, body)
      case (HttpMethod.GET, Seq("v1", "namespaces", ns)) =>
        val parts = nsParts(ns)
        if (parts == Seq("default"))
          HttpResponseStatus.OK -> """{"namespace":["default"],"properties":{}}"""
        else if (!catalog.namespaceExists(parts.mkString("/"))) nsNotFound(parts)
        else {
          val props = catalog.namespaceProperties(parts.mkString("/"))
            .toSeq.sortBy(_._1)
            .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
          HttpResponseStatus.OK ->
            s"""{"namespace":${nsJson(parts)},"properties":{$props}}"""
        }
      case (HttpMethod.DELETE, Seq("v1", "namespaces", ns)) =>
        val parts = nsParts(ns)
        if (parts == Seq("default"))
          badRequest("the implicit 'default' namespace cannot be dropped")
        else if (!catalog.namespaceExists(parts.mkString("/"))) nsNotFound(parts)
        else
          try { catalog.dropNamespace(parts.mkString("/")); HttpResponseStatus.NO_CONTENT -> "" }
          catch { case e: IllegalArgumentException =>
            // non-empty: the spec's 409 NamespaceNotEmptyException
            HttpResponseStatus.CONFLICT ->
              errorJson(Option(e.getMessage).getOrElse("namespace not empty"),
                "NamespaceNotEmptyException", 409)
          }
      case (HttpMethod.POST, Seq("v1", "namespaces", ns, "properties")) =>
        updateNamespaceProps(catalog, nsParts(ns), body)
      case (HttpMethod.GET, Seq("v1", "namespaces", ns, "tables")) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else {
          // Iceberg-REST pagination: `pageToken` is an opaque cursor
          // (here: the last identifier served — strictly-after resumption
          // is stable under sorted order even if tables are created
          // mid-iteration); `next-page-token` appears ONLY when a page was
          // truncated. No `pageSize` = the whole listing, the spec's
          // non-paginated mode. Listed tables are the namespace's DIRECT
          // children (nested namespaces' tables list under their own).
          val prefix = if (parts == Seq("default")) "" else parts.mkString("/") + "/"
          val all = catalog.tables()
            .filter(t => t.startsWith(prefix) && !t.drop(prefix.length).contains("/"))
            .map(_.drop(prefix.length)).sorted
          val after = query.get("pageToken")
            .fold(all)(tok => all.dropWhile(_ <= tok))
          def ident(t: String) = s"""{"namespace":${nsJson(parts)},"name":${q(t)}}"""
          query.get("pageSize") match {
            case Some(raw) =>
              raw.toIntOption.filter(_ >= 1) match {
                case None => badRequest(
                  s"pageSize must be a positive integer, got '$raw'")
                case Some(n) =>
                  val page = after.take(n)
                  val tail =
                    if (after.size > n) s""","next-page-token":${q(page.last)}"""
                    else ""
                  HttpResponseStatus.OK ->
                    s"""{"identifiers":[${page.map(ident).mkString(",")}]$tail}"""
              }
            case None =>
              HttpResponseStatus.OK ->
                s"""{"identifiers":[${after.map(ident).mkString(",")}]}"""
          }
        }
      case (HttpMethod.GET, Seq("v1", "namespaces", ns, "tables", t)) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else if (!catalog.tables().contains(catName(parts, t)))
          HttpResponseStatus.NOT_FOUND ->
            errorJson(s"Table does not exist: ${dotted(parts, t)}",
              "NoSuchTableException", 404)
        else HttpResponseStatus.OK ->
          tableJson(catalog, catName(parts, t), exportOnLoad)
      case (HttpMethod.DELETE, Seq("v1", "namespaces", ns, "tables", t)) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else if (!catalog.tables().contains(catName(parts, t)))
          HttpResponseStatus.NOT_FOUND ->
            errorJson(s"Table does not exist: ${dotted(parts, t)}",
              "NoSuchTableException", 404)
        else
          try { catalog.dropTable(catName(parts, t)); HttpResponseStatus.NO_CONTENT -> "" }
          catch {
            // live forks etc. — the caller's ordering problem, not a 500
            case e: IllegalArgumentException =>
              HttpResponseStatus.CONFLICT ->
                errorJson(Option(e.getMessage).getOrElse("drop refused"),
                  "CommitFailedException", 409)
          }
      case (HttpMethod.POST, Seq("v1", "namespaces", ns, "tables")) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else createTable(catalog, parts, body)
      case (HttpMethod.POST, Seq("v1", "namespaces", ns, "register")) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else registerTable(catalog, parts, body, hadoopConf)
      case (HttpMethod.POST, Seq("v1", "tables", "rename")) =>
        renameTable(catalog, body)
      case (HttpMethod.POST, Seq("v1", "namespaces", ns, "tables", t)) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else commitTable(catalog, parts, t, body)
      case (HttpMethod.POST, Seq("v1", "namespaces", ns, "tables", t, "statistics")) =>
        val parts = nsParts(ns)
        if (!nsExists(catalog, parts)) nsNotFound(parts)
        else analyzeTable(catalog, parts, t, body)
      case _ =>
        HttpResponseStatus.NOT_FOUND ->
          errorJson(s"No route for ${method.name} $path", "NotFoundException", 404)
    }
  }

  // ---- namespace plumbing ------------------------------------------------

  /** URL namespace segment → parts: the spec separates multi-level
    * namespaces with the 0x1F unit separator inside one path segment.
    */
  private def nsParts(seg: String): Seq[String] =
    seg.split('\u001f').toSeq

  /** REST parts → catalog name: the implicit `default` namespace is the
    * catalog's flat root, every other namespace prefixes `/`-joined.
    */
  private def catName(parts: Seq[String], t: String): String =
    if (parts == Seq("default")) t else (parts :+ t).mkString("/")

  private def dotted(parts: Seq[String], t: String): String =
    (parts :+ t).mkString(".")

  private def nsJson(parts: Seq[String]): String =
    "[" + parts.map(q).mkString(",") + "]"

  private def nsExists(catalog: GraftCatalog, parts: Seq[String]): Boolean =
    parts == Seq("default") || catalog.namespaceExists(parts.mkString("/"))

  private def nsNotFound(parts: Seq[String]): (HttpResponseStatus, String) =
    HttpResponseStatus.NOT_FOUND ->
      errorJson(s"Namespace does not exist: ${parts.mkString(".")}",
        "NoSuchNamespaceException", 404)

  /** `POST /v1/namespaces` — CreateNamespace: body carries `namespace`
    * (array of parts) and optional `properties`. Nested creation requires
    * the parent to exist; 409 `AlreadyExistsException` on an existing
    * namespace, 400 for reserved/invalid names (including `default`).
    */
  private def createNamespace(
      catalog: GraftCatalog, body: String): (HttpResponseStatus, String) = {
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    val nsNode = if (req == null) null else req.get("namespace")
    if (nsNode == null || !nsNode.isArray || nsNode.size == 0)
      return badRequest("create request requires a non-empty 'namespace' array")
    val parts = nsNode.elements().asScala.map(_.asText).toSeq
    if (parts.exists(_.isEmpty))
      return badRequest("namespace parts must be non-empty")
    if (parts.headOption.contains("default"))
      return badRequest("'default' is the implicit root namespace and cannot be created")
    val props = Option(req.get("properties")).filter(_.isObject)
      .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty[String, String])
    val name = parts.mkString("/")
    try {
      catalog.createNamespace(name, props)
      val propJson = props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
      HttpResponseStatus.OK ->
        s"""{"namespace":${nsJson(parts)},"properties":{$propJson}}"""
    } catch {
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("already exists")) =>
        HttpResponseStatus.CONFLICT ->
          errorJson(s"Namespace already exists: ${parts.mkString(".")}",
            "AlreadyExistsException", 409)
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("does not exist")) =>
        HttpResponseStatus.NOT_FOUND ->
          errorJson(Option(e.getMessage).get, "NoSuchNamespaceException", 404)
      case e: IllegalArgumentException =>
        badRequest(Option(e.getMessage).getOrElse("invalid namespace"))
    }
  }

  /** `POST /v1/namespaces/{ns}/properties` — UpdateNamespaceProperties:
    * `updates` map + `removals` array, answered with the spec's
    * updated/removed/missing report.
    */
  private def updateNamespaceProps(
      catalog: GraftCatalog, parts: Seq[String],
      body: String): (HttpResponseStatus, String) = {
    if (parts == Seq("default"))
      return badRequest("the implicit 'default' namespace carries no properties")
    if (!catalog.namespaceExists(parts.mkString("/"))) return nsNotFound(parts)
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    val updates = Option(if (req == null) null else req.get("updates"))
      .filter(_.isObject)
      .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty[String, String])
    val removals = Option(if (req == null) null else req.get("removals"))
      .filter(_.isArray)
      .map(_.elements().asScala.map(_.asText).toSet)
      .getOrElse(Set.empty[String])
    val overlap = updates.keySet.intersect(removals)
    if (overlap.nonEmpty)
      return badRequest(
        s"keys in both updates and removals: ${overlap.toSeq.sorted.mkString(", ")}")
    val ns = parts.mkString("/")
    val before = catalog.namespaceProperties(ns)
    catalog.updateNamespaceProperties(ns, updates, removals)
    def arr(xs: Iterable[String]) = "[" + xs.toSeq.sorted.map(q).mkString(",") + "]"
    HttpResponseStatus.OK ->
      (s"""{"updated":${arr(updates.keys)},""" +
        s""""removed":${arr(removals.filter(before.contains))},""" +
        s""""missing":${arr(removals.filterNot(before.contains))}}""")
  }

  // ---- write side --------------------------------------------------------

  private def badRequest(msg: String): (HttpResponseStatus, String) =
    HttpResponseStatus.BAD_REQUEST -> errorJson(msg, "BadRequestException", 400)

  /** `POST /v1/tables/rename` — the spec's RenameTable: body carries
    * `source`/`destination` TableIdentifiers; cross-namespace moves are
    * allowed (the destination namespace must exist). 204 on success, 404
    * missing source/namespace, 409 existing destination or live-fork
    * block.
    */
  private def renameTable(
      catalog: GraftCatalog, body: String): (HttpResponseStatus, String) = {
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    def ident(field: String): Either[String, (Seq[String], String)] = {
      val node = if (req == null) null else req.get(field)
      val name = if (node == null) null else node.get("name")
      val ns = if (node == null) null else node.get("namespace")
      if (name == null || !name.isTextual || name.asText.isEmpty)
        Left(s"rename request requires $field.name")
      else {
        val parts =
          if (ns == null) Seq("default")
          else if (ns.isArray && ns.size > 0)
            ns.elements().asScala.map(_.asText).toSeq
          else return Left(s"$field namespace must be a non-empty array")
        Right(parts -> name.asText)
      }
    }
    (ident("source"), ident("destination")) match {
      case (Left(e), _) => badRequest(e)
      case (_, Left(e)) => badRequest(e)
      case (Right((sp, sn)), Right((dp, dn))) =>
        if (!nsExists(catalog, sp)) nsNotFound(sp)
        else if (!nsExists(catalog, dp)) nsNotFound(dp)
        else if (!catalog.tables().contains(catName(sp, sn)))
          HttpResponseStatus.NOT_FOUND ->
            errorJson(s"Table does not exist: ${dotted(sp, sn)}",
              "NoSuchTableException", 404)
        else if (catalog.tables().contains(catName(dp, dn)))
          HttpResponseStatus.CONFLICT ->
            errorJson(s"Table already exists: ${dotted(dp, dn)}",
              "AlreadyExistsException", 409)
        else try {
          catalog.renameTable(catName(sp, sn), catName(dp, dn))
          HttpResponseStatus.NO_CONTENT -> ""
        } catch {
          case e: IllegalArgumentException =>
            HttpResponseStatus.CONFLICT ->
              errorJson(Option(e.getMessage).getOrElse("rename refused"),
                "CommitFailedException", 409)
        }
    }
  }

  /** `POST …/tables` — CreateTable. The table starts empty (files arrive
    * through commits); a request `schema` (Iceberg struct JSON) becomes
    * the catalog's canonical schema with the REQUEST's field ids persisted
    * — the ids are the column identity every later commit resolves by.
    */
  private def createTable(
      catalog: GraftCatalog, nsp: Seq[String],
      body: String): (HttpResponseStatus, String) = {
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    val nameNode = if (req == null) null else req.get("name")
    if (nameNode == null || !nameNode.isTextual || nameNode.asText.isEmpty)
      return badRequest("create request requires a non-empty 'name'")
    val name = nameNode.asText
    if (name.contains("/") || name.contains("@"))
      return badRequest(s"invalid table name '$name'")
    val cn = catName(nsp, name)
    val schema = Option(req.get("schema")) match {
      case None => None
      case Some(s) => parseIcebergSchema(s) match {
        case Right(st) => Some(st)
        case Left(err) => return badRequest(err)
      }
    }
    if (catalog.tables().contains(cn))
      HttpResponseStatus.CONFLICT ->
        errorJson(s"Table already exists: ${dotted(nsp, name)}",
          "AlreadyExistsException", 409)
    else {
      try catalog.createTable(cn, Nil, schema)
      catch { case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        // lost a concurrent-create race after the listing check
        return HttpResponseStatus.CONFLICT ->
          errorJson(s"Table already exists: ${dotted(nsp, name)}",
            "AlreadyExistsException", 409)
      }
      HttpResponseStatus.OK -> tableJson(catalog, cn)
    }
  }

  /** `POST …/{ns}/register` — the spec's RegisterTable: mount an EXISTING
    * Iceberg table by its `metadata-location` (no data movement — the
    * catalog's [[GraftCatalog.importTable]] walks the document's manifest
    * chain and registers it by reference). 409 when the name is taken,
    * 400 for malformed bodies or an unwalkable chain.
    */
  private def registerTable(
      catalog: GraftCatalog, nsp: Seq[String],
      body: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): (HttpResponseStatus, String) = {
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    val name = Option(if (req == null) null else req.get("name"))
      .filter(_.isTextual).map(_.asText).filter(_.nonEmpty).getOrElse(
        return badRequest("register request requires a non-empty 'name'"))
    if (name.contains("/") || name.contains("@"))
      return badRequest(s"invalid table name '$name'")
    val loc = Option(req.get("metadata-location"))
      .filter(_.isTextual).map(_.asText).filter(_.nonEmpty).getOrElse(
        return badRequest("register request requires 'metadata-location'"))
    // optional extension field: cap the history walk (head + N-1 nearest
    // ancestors) for thousand-snapshot tables — same contract as the
    // import_table procedure's history_depth
    val depth = Option(req.get("history-depth")).filter(_.isInt)
      .map(_.asInt).filter(_ > 0)
    val cn = catName(nsp, name)
    if (catalog.tableExists(cn))
      return HttpResponseStatus.CONFLICT ->
        errorJson(s"Table already exists: ${dotted(nsp, name)}",
          "AlreadyExistsException", 409)
    try catalog.importTable(cn, loc, hadoopConf, depth)
    catch {
      case e: GraftError =>
        return badRequest(Option(e.getMessage).getOrElse("import refused"))
      case e: java.io.IOException => // unreadable/absent metadata-location
        return badRequest(s"cannot read metadata-location '$loc': " +
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        return HttpResponseStatus.CONFLICT ->
          errorJson(s"Table already exists: ${dotted(nsp, name)}",
            "AlreadyExistsException", 409)
      case e: IllegalArgumentException => // e.g. the name is a namespace
        return badRequest(Option(e.getMessage).getOrElse("register refused"))
    }
    HttpResponseStatus.OK -> tableJson(catalog, cn)
  }

  /** `POST …/tables/{t}/statistics` — maintenance EXTENSION (the REST
    * spec defines no ANALYZE operation): run the catalog's distributed
    * theta-sketch ANALYZE and record the Puffin statistics files. Body:
    * optional `{"mode":"full"|"incremental"}` (default full; incremental
    * sketches only files added since the last statistics snapshot and
    * unions with its recorded sketches). Requires a SparkSession IN THIS
    * PROCESS — the one deviation from the facade's O(metadata) contract,
    * which is why it's an explicit operator-invoked POST (503 when no
    * session exists; the job runs on the single event-loop thread, so
    * concurrent metadata requests queue behind it — a maintenance
    * endpoint, not a serving one). Responds with per-column NDVs, the
    * stats snapshot, and the post-ANALYZE staleness flag.
    */
  private def analyzeTable(
      catalog: GraftCatalog, nsp: Seq[String], name: String,
      body: String): (HttpResponseStatus, String) = {
    val table = catName(nsp, name)
    if (!catalog.tables().contains(table))
      return HttpResponseStatus.NOT_FOUND ->
        errorJson(s"Table does not exist: ${dotted(nsp, name)}",
          "NoSuchTableException", 404)
    val req =
      try { if (body == null || body.trim.isEmpty) null else mapper.readTree(body) }
      catch { case e: Exception =>
        return badRequest(s"malformed JSON body: ${e.getMessage}")
      }
    val mode = Option(if (req == null) null else req.get("mode"))
      .filter(_.isTextual).map(_.asText).getOrElse("full")
    if (mode != "full" && mode != "incremental")
      return badRequest(s"mode must be 'full' or 'incremental', got '$mode'")
    // {"histograms": true} — the opt-in equi-height tier (sticky across
    // re-analysis once recorded, like the procedure spelling)
    val histograms = Option(if (req == null) null else req.get("histograms"))
      .exists(_.asBoolean(false))
    val spark = org.apache.spark.sql.SparkSession.getDefaultSession
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession).getOrElse(
        return HttpResponseStatus.SERVICE_UNAVAILABLE ->
          errorJson("ANALYZE is a compute operation and this catalog " +
            "server's process has no SparkSession",
            "ServiceUnavailableException", 503))
    try {
      val ndvs = catalog.computeTableStats(spark, table,
        incremental = mode == "incremental", histograms = histograms)
      val ref = catalog.tableStatistics(table)
      val cols = ndvs.toSeq.sortBy(_._1)
        .map { case (c, n) => s"${q(c)}:$n" }.mkString(",")
      HttpResponseStatus.OK ->
        (s"""{"columns":{$cols},""" +
          s""""snapshot-id":${ref.map(_.snapshotId).getOrElse(-1L)},""" +
          s""""statistics-path":${ref.map(r => q(r.path)).getOrElse("null")},""" +
          s""""stale":${catalog.statsStale(table)}}""")
    } catch {
      // client faults (bad table state the caller can fix) stay 400;
      // anything else is a SERVER fault and must say so — automated
      // clients retry 5xx, never 4xx
      case e @ (_: IllegalArgumentException | _: GraftError) =>
        badRequest("analyze failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      case e: Exception =>
        HttpResponseStatus.INTERNAL_SERVER_ERROR ->
          errorJson("analyze failed: " +
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName),
            "InternalServerError", 500)
    }
  }

  /** `POST …/tables/{t}` — CommitTable: requirements then updates, the
    * spec's optimistic protocol. `assert-ref-snapshot-id` on `main` is
    * the requirement that matters (it pins the base snapshot the caller
    * validated against); the catalog enforces it under its commit lock —
    * and re-checks via the head-store CAS where one is configured.
    */
  private def commitTable(
      catalog: GraftCatalog, nsp: Seq[String], name: String,
      body: String): (HttpResponseStatus, String) = {
    val table = catName(nsp, name)
    if (!catalog.tables().contains(table))
      return HttpResponseStatus.NOT_FOUND ->
        errorJson(s"Table does not exist: ${dotted(nsp, name)}",
          "NoSuchTableException", 404)
    val req = try mapper.readTree(body) catch { case e: Exception =>
      return badRequest(s"malformed JSON body: ${e.getMessage}")
    }
    def elems(n: JsonNode): Seq[JsonNode] =
      if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq
    // requirements: assert-ref-snapshot-id (ref must be main — the only
    // mutable ref this catalog has); unknown requirement types are
    // rejected rather than ignored (silently skipping an assertion the
    // client relies on would commit over state it never validated)
    var expected: Option[Long] = None
    for (r <- elems(if (req == null) null else req.get("requirements"))) {
      val tpe = Option(r.get("type")).map(_.asText).getOrElse("")
      tpe match {
        case "assert-ref-snapshot-id" =>
          val ref = Option(r.get("ref")).map(_.asText).getOrElse("main")
          if (ref != "main")
            return badRequest(s"unknown ref '$ref' (this catalog's only branch is 'main')")
          val sid = Option(r.get("snapshot-id")).map(_.asLong)
          if (sid.isEmpty) return badRequest("assert-ref-snapshot-id requires 'snapshot-id'")
          expected = sid
        case "assert-table-uuid" =>
          val want = Option(r.get("uuid")).map(_.asText).getOrElse("")
          if (want != uuidOf(catalog, table))
            return HttpResponseStatus.CONFLICT ->
              errorJson(s"table uuid mismatch: requirement $want, table ${uuidOf(catalog, table)}",
                "CommitFailedException", 409)
        case other =>
          return badRequest(s"unsupported requirement type '$other'")
      }
    }
    var propSets = Map.empty[String, String]
    var propRemoves = Set.empty[String]
    var rollbackTarget = Option.empty[Long]
    var newSchema = Option.empty[org.apache.spark.sql.types.StructType]
    var activateSchema = false
    val files = elems(if (req == null) null else req.get("updates")).flatMap { u =>
      Option(u.get("action")).map(_.asText).getOrElse("") match {
        case "add-data-files" =>
          elems(u.get("data-files")).map { f =>
            val p = Option(f.get("file-path")).map(_.asText).getOrElse("")
            if (p.isEmpty) return badRequest("data file requires 'file-path'")
            GraftCatalog.AddedFile(p,
              Option(f.get("file-format")).map(_.asText.toLowerCase).getOrElse("parquet"),
              Option(f.get("record-count")).map(_.asLong).getOrElse(-1L),
              Option(f.get("file-size-in-bytes")).map(_.asLong).getOrElse(-1L))
          }
        case "set-properties" =>
          val ups = Option(u.get("updates"))
          if (!ups.exists(_.isObject))
            return badRequest("set-properties requires an 'updates' object")
          ups.get.fields().asScala.foreach(e =>
            propSets += e.getKey -> e.getValue.asText)
          Nil
        case "remove-properties" =>
          val rm = Option(u.get("removals"))
          if (!rm.exists(_.isArray))
            return badRequest("remove-properties requires a 'removals' array")
          rm.get.elements().asScala.foreach(n => propRemoves += n.asText)
          Nil
        case "add-schema" =>
          // the spec's schema-evolution pair: add-schema carries the full
          // evolved struct (field ids are the evolution identity); the
          // companion set-current-schema-id below activates it
          val s = Option(u.get("schema")).getOrElse(
            return badRequest("add-schema requires a 'schema'"))
          parseIcebergSchema(s) match {
            case Right(st) => newSchema = Some(st)
            case Left(err) => return badRequest(err)
          }
          Nil
        case "set-current-schema-id" =>
          // the spec's sentinel -1 = "the schema added in this commit";
          // this catalog has no standalone schema registry to address
          // other ids through
          val sid = Option(u.get("schema-id")).filter(_.isNumber)
            .getOrElse(return badRequest(
              "set-current-schema-id requires a numeric 'schema-id'"))
          if (sid.asInt != -1)
            return badRequest("set-current-schema-id supports -1 " +
              "(the schema added by this commit's add-schema)")
          activateSchema = true
          Nil
        case "set-snapshot-ref" =>
          // rolling main back to a retained snapshot — the spec's rollback
          // shape. Rendered as a NEW head pointing at the old state
          // (rollbackTo), so history stays append-only.
          if (Option(u.get("ref-name")).map(_.asText).getOrElse("main") != "main")
            return badRequest("set-snapshot-ref supports the 'main' branch")
          val sid = Option(u.get("snapshot-id")).filter(_.isNumber)
            .getOrElse(return badRequest(
              "set-snapshot-ref requires a numeric 'snapshot-id'"))
          rollbackTarget = Some(sid.asLong)
          Nil
        case other =>
          return badRequest(s"unsupported update action '$other' " +
            "(this facade commits 'add-data-files', 'set-properties', " +
            "'remove-properties', 'set-snapshot-ref', 'add-schema', " +
            "'set-current-schema-id')")
      }
    }
    if (files.isEmpty && propSets.isEmpty && propRemoves.isEmpty &&
        rollbackTarget.isEmpty && newSchema.isEmpty && !activateSchema)
      return badRequest("commit carries no supported updates")
    if (files.nonEmpty && rollbackTarget.nonEmpty)
      return badRequest(
        "add-data-files and set-snapshot-ref cannot share a commit")
    if (newSchema.nonEmpty && (files.nonEmpty || rollbackTarget.nonEmpty))
      return badRequest(
        "add-schema must be its own commit (schema evolution is a " +
          "standalone snapshot in this catalog)")
    // the pair is required BOTH ways: an added-but-unactivated schema has
    // nowhere to live (no standalone schema registry), and an activation
    // with nothing added has nothing to point at
    if (newSchema.nonEmpty != activateSchema)
      return badRequest(
        if (newSchema.nonEmpty)
          "add-schema requires the companion set-current-schema-id: -1 " +
            "(this catalog has no registry for inactive schemas)"
        else "set-current-schema-id requires a companion add-schema in the same commit")
    try {
      // the base requirement is asserted INSIDE the catalog's table lock
      // by whichever operation runs first (a lock-free pre-check here was
      // a TOCTOU hole: two racing metadata commits could both observe the
      // required base and both land). Later operations in the same commit
      // run unasserted — the first op already validated the caller's view,
      // and a head-advancing first op (rollback, evolve) makes the original
      // base stale for its siblings by design.
      var baseAsserted = false
      def takeExpected(): Option[Long] =
        if (baseAsserted) None else { baseAsserted = true; expected }
      if (files.nonEmpty) takeExpected() match {
        // an empty requirements list means NO validation (the spec's
        // unconditioned commit): the append lands at whatever head holds
        // under the commit lock. Fabricating a base from a lock-free head
        // read here raced concurrent appends into spurious 409s.
        case Some(base) => catalog.commitAppendAt(table, base, files)
        case None => catalog.commitAppend(table, files)
      }
      rollbackTarget.foreach { sid =>
        try catalog.rollbackTo(table, sid, takeExpected())
        catch { case e: IllegalArgumentException =>
          return badRequest(Option(e.getMessage).getOrElse("bad snapshot"))
        }
      }
      newSchema.foreach { st =>
        // evolution legality (id reuse, illegal promotions, nullability
        // tightening) is the CLIENT's error — the spec's 400
        // ValidationException, not a retryable 409
        try catalog.evolveSchema(table, st, takeExpected())
        catch { case e: IllegalArgumentException =>
          return badRequest(Option(e.getMessage).getOrElse("illegal schema evolution"))
        }
      }
      if (propSets.nonEmpty || propRemoves.nonEmpty)
        catalog.updateTableProperties(table, propSets, propRemoves, takeExpected())
      HttpResponseStatus.OK -> tableJson(catalog, table)
    } catch {
      case e: GraftError.Metadata =>
        // the CAS / base-snapshot conflict — the spec's retryable 409
        HttpResponseStatus.CONFLICT ->
          errorJson(Option(e.getMessage).getOrElse("commit conflict"),
            "CommitFailedException", 409)
    }
  }

  /** Iceberg struct-schema JSON → Spark StructType with the request's
    * field ids persisted as `parquet.field.id` metadata (the catalog's
    * field-id convention, [[FieldIds]]). Inverse of [[icebergTypeName]];
    * an unmapped type is the client's error (400), never a guess.
    */
  private def parseIcebergSchema(
      node: JsonNode): Either[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    if (Option(node.get("type")).map(_.asText).getOrElse("") != "struct")
      return Left("schema must be an Iceberg struct ({\"type\":\"struct\",…})")
    val fields = Option(node.get("fields")).toSeq
      .flatMap(_.elements().asScala.toSeq)
    val parsed = fields.map { f =>
      val name = Option(f.get("name")).map(_.asText).getOrElse("")
      if (name.isEmpty) return Left("schema field requires 'name'")
      val id = Option(f.get("id")).map(_.asInt)
        .getOrElse(return Left(s"schema field '$name' requires 'id'"))
      val required = Option(f.get("required")).exists(_.asBoolean)
      val tn = Option(f.get("type")).map(_.asText).getOrElse("")
      val dt: DataType = tn match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "string" => StringType
        case "binary" => BinaryType
        case "date" => DateType
        case "timestamptz" => TimestampType
        case "timestamp" => TimestampNTZType
        case d if d.startsWith("decimal(") && d.endsWith(")") =>
          d.stripPrefix("decimal(").stripSuffix(")").split(",") match {
            case Array(p, s) => DecimalType(p.trim.toInt, s.trim.toInt)
            case _ => return Left(s"malformed decimal type '$d'")
          }
        case other => return Left(s"unsupported field type '$other' for '$name'")
      }
      StructField(name, dt, nullable = !required,
        metadata = new MetadataBuilder()
          .putLong(FieldIds.MetaKey, id.toLong).build())
    }
    Right(StructType(parsed))
  }

  // ---- read side ---------------------------------------------------------

  /** The Iceberg REST `LoadTableResult`: the spec's required TableMetadata
    * fields plus the snapshot log (with commit summaries), HEAD, refs, and
    * the canonical schema (when recorded) with the catalog's REAL
    * persisted field ids. Sequence number == snapshot id (the catalog's
    * commit counter is its sequence domain), timestamps are the snapshot
    * documents' mtimes, and `metadata-location` points at the catalog's
    * current snapshot document — this catalog's metadata root object.
    */
  private def tableJson(
      catalog: GraftCatalog, table: String,
      exportOnLoad: Boolean = false): String = {
    val head = catalog.currentSnapshotId(table)
    val snaps = catalog.snapshotIds(table).map { id =>
      val summary = catalog.snapshotSummary(table, id).map { s =>
        val recs = s.addedRecords.fold("")(r => s""","added-records":"$r"""")
        s""","summary":{"operation":${q(s.operation)},""" +
          s""""added-data-files":"${s.addedDataFiles}",""" +
          s""""removed-data-files":"${s.removedDataFiles}",""" +
          s""""added-delete-files":"${s.addedDeleteFiles}"$recs}"""
      }.getOrElse("")
      s"""{"snapshot-id":$id,"sequence-number":$id,""" +
        s""""timestamp-ms":${snapMtime(catalog, table, id)}$summary}"""
    }
    val refs =
      (s""""main":{"snapshot-id":$head,"type":"branch"}""" +:
        // a pre-existing tag literally named 'main' is skipped: rendering
        // it would duplicate the branch key in this object (tagSnapshot
        // rejects new ones)
        catalog.tags(table).toSeq.filterNot(_._1 == "main")
          .sortBy(_._1).map { case (tag, id) =>
            s"""${q(tag)}:{"snapshot-id":$id,"type":"tag"}"""
          }).mkString(",")
    val schemaOpt = catalog.currentSchema(table)
    val schemaFields = schemaOpt.toSeq.flatMap(_.fields.toSeq).flatMap { f =>
      for {
        id <- FieldIds.idOf(f)
        // a physically-annotated field (uuid/fixed/time/ns — lossy Spark
        // mappings from an import) declares its PHYSICAL type, matching
        // the exported metadata.json — a client trusting the inline
        // schema must not see 'string' for a column whose manifest
        // bounds are 16-byte uuids
        t <- FieldIds.physicalOf(f).orElse(icebergTypeName(f.dataType))
      } yield s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},"type":${q(t)}}"""
    }
    // the spec requires schemas/current-schema-id: a schema-less catalog
    // table renders the empty struct schema rather than omitting the keys
    // (a stock TableMetadata parser rejects a document without them)
    val schemaPart =
      s""""current-schema-id":0,"schemas":[{"type":"struct","schema-id":0,""" +
        s""""fields":[${schemaFields.mkString(",")}]}],"""
    val lastColumnId = schemaOpt.toSeq.flatMap(_.fields.toSeq)
      .flatMap(FieldIds.idOf).maxOption.getOrElse(0)
    // the declared partition spec renders when every source column binds
    // to a schema field id (partial specs would misdescribe the layout);
    // partition field ids follow the spec's 1000+ convention
    val specFields = catalog.partitionSpec(table)
    val bindable = schemaOpt.exists(s =>
      specFields.forall(f => s.fields.exists(sf =>
        sf.name == f.source && FieldIds.idOf(sf).isDefined)))
    val renderedSpec =
      if (specFields.nonEmpty && bindable)
        specFields.zipWithIndex.map { case (f, i) =>
          val srcId = schemaOpt.get.fields
            .find(_.name == f.source).flatMap(FieldIds.idOf).get
          s"""{"name":${q(f.name)},"transform":${q(f.transform)},""" +
            s""""source-id":$srcId,"field-id":${1000 + i}}"""
        }.mkString(",")
      else ""
    val lastPartitionId = 999 + (if (renderedSpec.isEmpty) 0 else specFields.length)
    val location = java.nio.file.Paths.get(catalog.rootDir, table).toString
    // `metadata-location` points at the REAL exported `vN.metadata.json`
    // when one exists for the CURRENT head — a stock client can then mount
    // the table and walk manifest list → manifests → files with zero graft
    // code. `exportOnLoad` writes the export on demand (an explicit interop
    // deployment choice: export cost is O(retained entries) per load at a
    // new head; re-loads at the same head hit the existing document). The
    // fallback stays the catalog's own snapshot document.
    val exported = java.nio.file.Paths.get(
      catalog.rootDir, table, s"v$head.metadata.json")
    val metadataLocation =
      if (java.nio.file.Files.exists(exported)) exported.toString
      else if (exportOnLoad)
        IcebergMetadataJson.export(catalog, catalog.rootDir, table).toString
      else java.nio.file.Paths.get(
        catalog.rootDir, table, s"snap-$head.tsv").toString
    s"""{"metadata-location":${q(metadataLocation)},""" +
      s""""metadata":{"format-version":2,"table-uuid":${q(uuidOf(catalog, table))},""" +
      s""""location":${q(location)},""" +
      // an imported table's entries keep their FOREIGN sequence numbers;
      // the spec forbids any entry seq above last-sequence-number, so the
      // header covers the head's highest entry. Memoized per (root,
      // table, uuid, head): snapshot documents are write-once, so the
      // value is immutable at a given head — a hot metadata poll on a
      // million-file table must not re-scan the entry list per request.
      s""""last-sequence-number":${
        RestCatalogServer.lastSeqCacheGuard()
        RestCatalogServer.lastSeqCache.computeIfAbsent(
          (catalog.rootDir, table, uuidOf(catalog, table), head),
          _ => math.max(head, catalog.loadEntries(table).map(_.seqNum)
            .maxOption.getOrElse(0L)))},""" +
      s""""last-updated-ms":${snapMtime(catalog, table, head)},""" +
      s""""last-column-id":$lastColumnId,""" +
      schemaPart +
      s""""default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[$renderedSpec]}],""" +
      s""""last-partition-id":$lastPartitionId,""" +
      sortOrderJson(catalog, table, schemaOpt) +
      s""""properties":{${catalog.tableProperties(table).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},""" +
      s""""current-snapshot-id":$head,"snapshots":[${snaps.mkString(",")}],""" +
      s""""refs":{$refs}}}"""
  }

  /** `sort-orders` rendering: the declared order becomes the spec's order
    * 1 (asc, nulls-first — the catalog's write layout) when every column
    * binds to a schema field id; otherwise only the unsorted order 0
    * renders, which is also always present as the spec requires.
    */
  private def sortOrderJson(
      catalog: GraftCatalog,
      table: String,
      schemaOpt: Option[org.apache.spark.sql.types.StructType]): String = {
    val cols = catalog.sortOrder(table)
    val bound = schemaOpt.toSeq.flatMap { s =>
      cols.flatMap(c =>
        s.fields.find(_.name == c).flatMap(FieldIds.idOf))
    }
    if (cols.nonEmpty && bound.length == cols.length) {
      val fields = bound.map(id =>
        s"""{"transform":"identity","source-id":$id,""" +
          s""""direction":"asc","null-order":"nulls-first"}""").mkString(",")
      s""""default-sort-order-id":1,"sort-orders":[""" +
        s"""{"order-id":0,"fields":[]},{"order-id":1,"fields":[$fields]}],"""
    } else
      s""""default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],"""
  }

  /** Iceberg spec primitive type names for the Spark types the catalog's
    * canonical schemas use; fields of unmapped types are omitted from the
    * rendered schema rather than guessed (the rest of the metadata still
    * serves).
    */
  private def icebergTypeName(
      dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => Some("boolean")
      case IntegerType => Some("int")
      case LongType => Some("long")
      case FloatType => Some("float")
      case DoubleType => Some("double")
      case StringType => Some("string")
      case BinaryType => Some("binary")
      case DateType => Some("date")
      case TimestampType => Some("timestamptz")
      case TimestampNTZType => Some("timestamp")
      case d: DecimalType => Some(s"decimal(${d.precision}, ${d.scale})")
      case _ => None
    }
  }

  private def snapMtime(catalog: GraftCatalog, table: String, id: Long): Long =
    try java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(catalog.rootDir, table, s"snap-$id.tsv")).toMillis
    catch { case _: Exception => 0L }

  /** The table's REAL creation UUID (the catalog mints one per create,
    * and import re-mints — the generation discriminator drop-and-recreate
    * depends on); the name-derived type-3 fallback covers only legacy
    * tables created before uuids existed, where re-creates were already
    * indistinguishable.
    */
  private def uuidOf(catalog: GraftCatalog, table: String): String =
    catalog.tableUuid(table).getOrElse(
      java.util.UUID.nameUUIDFromBytes(
        s"graft:$table".getBytes(StandardCharsets.UTF_8)).toString)

  private def errorJson(message: String, errType: String, code: Int): String =
    s"""{"error":{"message":${q(message)},"type":${q(errType)},"code":$code}}"""

  /** JSON string literal (same escape set as Verify's dump writer). */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
