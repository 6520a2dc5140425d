package graft.etl

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON config model replicating the reference's `etl.php` contract
  * (reference: sdk/etl.php:76-150):
  *
  * {{{
  * { "tables": [ { "flow": "src_table -> dst_table",
  *                 "columns": {"dst": "[src]", "lit": "value", "ts": "NOW()"}
  *                          | ["dst <- src", "same_name"],
  *                 "unique": ["key1", "key2"],
  *                 "query":  "raw SQL predicate" } ] }
  * }}}
  *
  *  - `flow` is parsed on `->` with trimming (etl.php:104-105);
  *  - `columns` accepts both the map form and the `dst <- src` list form
  *    (etl.php:10-30);
  *  - `unique` columns are independent dedup constraints (OR semantics);
  *  - `query` is a raw predicate appended to the source scan (etl.php:141).
  *
  * Validation fails fast at parse time, mirroring etl.php:92-110, because
  * Spark would otherwise only error at analysis.
  */
final case class FlowSpec(
    from: String,
    to: String,
    columns: Seq[ColumnSpec],
    unique: Seq[String],
    query: Option[String],
    connection: Option[String] = None,
    inlineFrom: Option[ConnectionSpec] = None,
    inlineTo: Option[ConnectionSpec] = None,
    queryConds: Seq[ExistsProbe.Cond] = Nil)

/** A named JDBC endpoint from the config's `connections` block
  * (reference: sdk/etl.php:128-132 — per-table connection override falls
  * back to the global `from`/`to` pair; sdk/src/SQLConnectionFactory.php
  * builds the DSN). `options` feeds `Sources.jdbc` and `JdbcSink`
  * verbatim (driver, user, password, ...).
  */
final case class ConnectionSpec(url: String, options: Map[String, String])

final case class PipelineSpec(flows: Seq[FlowSpec],
                              connections: Map[String, ConnectionSpec] = Map.empty) {
  /** Resolve a flow's source connection: per-flow inline object
    * (reference: sdk/etl.php:129-132 `$value['connections']['from']`
    * overrides the global connection), else explicit name, else the global
    * "from".
    */
  def sourceConnection(flow: FlowSpec): Option[ConnectionSpec] =
    flow.inlineFrom
      .orElse(flow.connection.flatMap(connections.get))
      .orElse(connections.get("from"))

  /** Resolve a flow's destination connection: per-flow inline `to` object,
    * else the global "to" (reference: sdk/etl.php:128-132 — the destination
    * PDO every task's exists-probe and `add_many` insert ran against).
    */
  def destinationConnection(flow: FlowSpec): Option[ConnectionSpec] =
    flow.inlineTo.orElse(connections.get("to"))
}

object PipelineSpec {

  def parse(json: String): PipelineSpec = {
    val root = JsonMethods.parse(json)
    val tables = root \ "tables" match {
      case JArray(ts) => ts
      case JNothing => throw new IllegalArgumentException(
        "config must declare a 'tables' array")
      case other => throw new IllegalArgumentException(
        s"'tables' must be an array, got ${other.getClass.getSimpleName}")
    }
    val connections = root \ "connections" match {
      case JObject(fields) => fields.map { case (name, v) =>
        name -> parseConnection(v, s"connections.$name")
      }.toMap
      case JNothing => Map.empty[String, ConnectionSpec]
      case _ => throw new IllegalArgumentException(
        "'connections' must be an object")
    }
    val flows = tables.map(parseFlow)
    // an unknown name would otherwise fall back to the global "from"
    // and silently read the wrong source
    flows.foreach(f => f.connection.foreach { c =>
      if (!connections.contains(c)) throw new IllegalArgumentException(
        s"flow '${f.from} -> ${f.to}': connection '$c' names no entry " +
          "of 'connections'")
    })
    PipelineSpec(flows, connections)
  }

  private def parseConnection(v: JValue, where: String): ConnectionSpec = {
    val url = v \ "url" match {
      case JString(u) => u
      case _ => throw new IllegalArgumentException(
        s"$where must declare a 'url' string")
    }
    val opts = v \ "options" match {
      case JObject(of) => of.collect { case (k, JString(s)) => k -> s }.toMap
      case JNothing => Map.empty[String, String]
      case _ => throw new IllegalArgumentException(
        s"$where.options must be an object of strings")
    }
    ConnectionSpec(url, opts)
  }

  private def parseFlow(t: JValue): FlowSpec = {
    val flow = t \ "flow" match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(
        "each tables[] entry must declare a 'flow' string")
    }
    val arrow = flow.indexOf("->")
    if (arrow < 0) throw new IllegalArgumentException(
      s"flow '$flow' must be of the form 'src -> dst'")
    val from = flow.substring(0, arrow).trim
    val to = flow.substring(arrow + 2).trim
    if (from.isEmpty || to.isEmpty) throw new IllegalArgumentException(
      s"flow '$flow' has an empty endpoint")

    val columns = t \ "columns" match {
      case JObject(fields) =>
        fields.map { case (dst, v) =>
          ColumnMapping.parse(dst, jstring(v, s"columns.$dst"))
        }
      case JArray(entries) =>
        entries.map(e => ColumnMapping.parseArrow(jstring(e, "columns[]")))
      case JNothing => Nil
      case _ => throw new IllegalArgumentException(
        s"flow '$flow': 'columns' must be an object or array")
    }

    val unique = t \ "unique" match {
      case JArray(ks) => ks.map(k => jstring(k, "unique[]").trim)
      case JNothing => Nil
      case _ => throw new IllegalArgumentException(
        s"flow '$flow': 'unique' must be an array")
    }

    // `query` accepts the raw-predicate STRING form (etl.php:141) and
    // the reference's operator-string LIST form ("column op value"
    // conditions AND-joined, values bound as strings —
    // sdk/src/SQLTable.php:60-75); the list form parses fail-fast here
    // (etl.php:92-110's posture), not at Catalyst analysis time.
    val (query, queryConds) = t \ "query" match {
      case JString(q) if q.trim.nonEmpty => (Some(q.trim), Nil)
      case JArray(qs) =>
        (None, qs.map(q =>
          ExistsProbe.parseCond(jstring(q, s"flow '$flow' query[]"))))
      case _ => (None, Nil)
    }

    val connection = t \ "connection" match {
      case JString(c) if c.trim.nonEmpty => Some(c.trim)
      case _ => None
    }

    // per-flow inline connections override (sdk/etl.php:129-132)
    val inlineFrom = t \ "connections" \ "from" match {
      case JNothing => None
      case v => Some(parseConnection(v, s"flow '$flow' connections.from"))
    }
    val inlineTo = t \ "connections" \ "to" match {
      case JNothing => None
      case v => Some(parseConnection(v, s"flow '$flow' connections.to"))
    }

    FlowSpec(from, to, columns, unique, query, connection,
      inlineFrom, inlineTo, queryConds)
  }

  private def jstring(v: JValue, where: String): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(
      s"$where must be a string, got $other")
  }
}
