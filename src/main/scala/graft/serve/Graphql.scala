package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.model.Observation
import graft.operators.ObservationStore

/** Minimal executor for the reference's GraphQL query surface
  * (`query/query_graphql.go:25-192`): the root fields
  * `entries(rdata?, rrname?, rrtype?, sensor_id?, limit?)` and `stats`,
  * with scalar field selection (`rrname rrtype rdata sensor_id count
  * time_first time_last time_first_rfc3339 time_last_rfc3339 id`), the
  * nested `aliases { ... }` sub-selection (Q6), GraphQL variables,
  * MULTIPLE root fields per document, root-level field aliases
  * (`mine: entries(...)`), and named + inline fragments — the grammar a
  * standard client emits, implemented with a hand-rolled tokenizer
  * instead of a GraphQL engine dependency. */
object Graphql {

  private val mapper = new ObjectMapper()

  sealed trait GqlQuery
  final case class EntriesQuery(
      rrname: Option[String], rdata: Option[String], rrtype: Option[String],
      sensorId: Option[String], limit: Int,
      fields: Seq[String], aliasFields: Seq[String],
      aliasLimit: Int = 1000) extends GqlQuery
  final case class StatsQuery(fields: Seq[String]) extends GqlQuery
  case object IntrospectionQuery extends GqlQuery

  /** The RRType enum of the reference schema, verbatim
    * (`query/query_graphql.go:26-73`). An rrtype argument outside this set
    * is a schema error, mirroring graphql-go's enum validation. */
  val RRTypes: Set[String] = Set(
    "A", "A6", "AAAA", "AFSDB", "ALIAS", "APL", "AXFR", "CAA", "CDNSKEY",
    "CDS", "CERT", "CNAME", "DHCID", "DLV", "DNAME", "DNSKEY", "DS",
    "HINFO", "HIP", "IPSECKEY", "IXFR", "KEY", "KX", "LOC", "MX", "NAPTR",
    "NS", "NSEC", "NSEC3", "NSEC3PARAM", "OPENPGPKEY", "OPT", "PTR",
    "RRSIG", "RP", "SIG", "SOA", "SPF", "SRV", "SSHFP", "TA", "TKEY",
    "TLSA", "TSIG", "TXT", "URI")

  private val statsFields = Set("total_count", "num_goroutines")

  /** Parse + run + render. Left(error) on malformed queries or missing
    * required args (`query_graphql.go:242-246`). */
  def execute(query: String, store: ObservationStore): Either[String, String] =
    execute(query, None, store)

  /** [[execute]] with GraphQL variables (the `variables` member of the
    * standard JSON envelope — the single most common client pattern:
    * `{"query":"query($n:String){entries(rrname:$n){...}}",
    * "variables":{"n":"x"}}`; the reference gets this from graph-gophers,
    * `query/query_graphql.go:194-206`). Variables are spliced into the
    * document as literals BEFORE parsing, so every downstream rule
    * (enum validation, limit parsing, quoted-paren scanning) applies to
    * variable-supplied values exactly as to inline ones. */
  def execute(query: String, variables: Option[JsonNode],
      store: ObservationStore): Either[String, String] =
    substituteVariables(query, variables).flatMap(applyDirectives)
      .flatMap { doc =>
        // every ROOT field @skip'd away leaves a literally empty root
        // selection — a legal document with an empty response. Checked
        // structurally (not by catching the parse error: a NESTED
        // selection emptied by @skip shares the error message, and
        // masking that would silently drop un-skipped sibling roots).
        val s0 = doc.indexOf('{')
        val e0 = if (s0 >= 0) matchDelim(doc, s0, '{', '}') else -1
        if (query.contains('@') && e0 > s0 &&
          doc.substring(s0 + 1, e0).trim.isEmpty)
          Right(Seq.empty[(String, GqlQuery)])
        else expandFragments(doc).flatMap(parseDocument)
      }.flatMap {
      case Seq() => Right("""{"data":{}}""")
      case fields =>
        if (fields.exists(_._2 == IntrospectionQuery))
          Right(renderIntrospection())
        else {
          val root = mapper.createObjectNode()
          val data = root.putObject("data")
          val err = fields.foldLeft(Option.empty[String]) {
            case (e @ Some(_), _) => e
            case (None, (key, q: EntriesQuery)) =>
              if (q.rrname.isEmpty && q.rdata.isEmpty)
                Some("one of rrname or rdata must be given")
              else { renderEntries(data, key, q, store); None }
            case (None, (key, StatsQuery(sFields))) =>
              renderStatsInto(data, key, sFields, store); None
            case (None, (_, IntrospectionQuery)) => None // handled above
          }
          err.toLeft(mapper.writeValueAsString(root))
        }
    }

  /** Strip the optional operation header (`query Name($n: String = "d")`)
    * and replace each `$var` in the body with its JSON-envelope value
    * (string values re-quoted/escaped through the JSON mapper — so a
    * quote inside a variable cannot break out of its argument) or its
    * declared default. `$` inside string literals is left untouched (the
    * GraphQL rule). Errors on an unsupplied variable with no default and
    * on non-scalar values — the schema has no list/object arguments. */
  private[graft] def substituteVariables(query: String,
      variables: Option[JsonNode]): Either[String, String] = {
    val header = """^\s*query\b\s*[A-Za-z0-9_]*\s*(\(([^)]*)\))?\s*"""
      .r.findFirstMatchIn(query)
    val varDefaults: Map[String, Option[String]] =
      header.flatMap(h => Option(h.group(2))).map { defs =>
        """\$([A-Za-z_][A-Za-z0-9_]*)\s*:\s*[\w\[\]!]+(?:\s*=\s*("(?:[^"\\]|\\.)*"|[^,)\s]+))?"""
          .r.findAllMatchIn(defs)
          .map(d => d.group(1) -> Option(d.group(2))).toMap
      }.getOrElse(Map.empty)
    val body = header.map(h => query.substring(h.end)).getOrElse(query)
    if (!body.contains('$')) return Right(body)

    def renderVar(name: String): Either[String, String] =
      variables.flatMap(v => Option(v.get(name))).filterNot(_.isNull) match {
        case Some(v) if v.isTextual => Right(mapper.writeValueAsString(v))
        case Some(v) if v.isNumber || v.isBoolean => Right(v.asText)
        case Some(_) =>
          Left(s"""Variable "$$$name" has a non-scalar value; only scalars are supported.""")
        case None => varDefaults.get(name) match {
          case Some(Some(default)) => Right(default)
          case _ => Left(s"""Variable "$$$name" is not defined.""")
        }
      }

    val sb = new StringBuilder(body.length)
    var i = 0
    var inStr = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (inStr) {
        sb.append(c)
        if (c == '\\' && i + 1 < body.length) { sb.append(body.charAt(i + 1)); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (c == '"') { inStr = true; sb.append(c); i += 1 }
      else if (c == '$') {
        var j = i + 1
        while (j < body.length &&
          (body.charAt(j).isLetterOrDigit || body.charAt(j) == '_')) j += 1
        val name = body.substring(i + 1, j)
        if (name.isEmpty) { sb.append(c); i += 1 }
        else renderVar(name) match {
          case Left(err) => return Left(err)
          case Right(lit) => sb.append(lit); i = j
        }
      } else { sb.append(c); i += 1 }
    }
    Right(sb.toString)
  }

  // ------------------------------------------------------------- parse

  /** Single-query convenience used by tests and [[execute]]'s older
    * callers: the first root field of the document. */
  def parse(query: String): Either[String, GqlQuery] =
    applyDirectives(query).flatMap(expandFragments)
      .flatMap(parseDocument).map(_.head._2)

  /** `@skip(if:)` / `@include(if:)` — the two built-in directives every
    * stock client may decorate any field, fragment spread or inline
    * fragment with (the reference gets them from graph-gophers,
    * `query/query_graphql.go:194-206`). Runs AFTER variable substitution
    * (so `if: $flag` is a literal by now) and BEFORE fragment expansion
    * (so a directive on a spread drops the spread itself): a recursive
    * rewrite of every selection set that removes skipped elements and
    * strips the directive text from kept ones. Unknown directives and a
    * missing/non-boolean `if:` are schema errors, as graphql-go reports
    * them. */
  private[serve] def applyDirectives(doc: String): Either[String, String] = {
    if (!doc.contains('@')) return Right(doc)
    val s = doc
    var err: Option[String] = None
    def fail(msg: String): Int = { if (err.isEmpty) err = Some(msg); s.length }

    // copies s[from..) into out until `stop`, honoring string literals
    // (an '@' inside a quoted TXT rdata is data, not a directive)
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def skipWs(out: StringBuilder, from: Int): Int = {
      var i = from
      while (i < s.length &&
        (s.charAt(i).isWhitespace || s.charAt(i) == ',')) {
        out.append(s.charAt(i)); i += 1
      }
      i
    }
    def ident(out: StringBuilder, from: Int): Int = {
      var i = from
      while (i < s.length && isIdent(s.charAt(i))) {
        out.append(s.charAt(i)); i += 1
      }
      i
    }

    // parse `@name(args)?`* at `from`; returns (keep, next). Directive
    // text itself is never copied to the output.
    def directives(from: Int): (Boolean, Int) = {
      var i = from
      var keep = true
      val scratch = new StringBuilder
      var again = true
      while (again) {
        scratch.clear()
        val j = skipWs(scratch, i)
        if (j < s.length && s.charAt(j) == '@') {
          val nameSb = new StringBuilder
          val k = ident(nameSb, j + 1)
          val name = nameSb.toString
          var n = k
          var args = ""
          if (n < s.length && s.charAt(n) == '(') {
            val close = matchDelim(s, n, '(', ')')
            if (close < 0) return (keep, fail("unbalanced directive arguments"))
            args = s.substring(n + 1, close)
            n = close + 1
          }
          name match {
            case "skip" | "include" =>
              """if\s*:\s*(true|false)""".r.findFirstMatchIn(args)
                .map(_.group(1).toBoolean) match {
                case Some(v) =>
                  if (name == "skip" && v) keep = false
                  if (name == "include" && !v) keep = false
                case None =>
                  return (keep, fail(
                    s"""Directive "@$name" requires argument "if" of type "Boolean!"."""))
              }
            case other =>
              return (keep, fail(s"""Unknown directive "@$other"."""))
          }
          i = n
        } else again = false
      }
      (keep, i)
    }

    // one element of a selection set: field or spread; appends the kept
    // rewrite to `out`, returns the index after the element
    def element(out: StringBuilder, from: Int): Int = {
      val elem = new StringBuilder
      var i = from
      var keep = true
      if (s.startsWith("...", i)) {
        elem.append("..."); i += 3
        i = skipWs(elem, i)
        if (s.startsWith("on", i) &&
          (i + 2 >= s.length || !isIdent(s.charAt(i + 2)))) {
          elem.append("on "); i += 2
          i = skipWs(elem, i)
          i = ident(elem, i) // type condition
          val (k1, n1) = directives(i)
          keep &= k1; i = n1
          val scratch = new StringBuilder
          val j = skipWs(scratch, i)
          if (j >= s.length || s.charAt(j) != '{')
            return fail("malformed inline fragment")
          elem.append(scratch)
          i = selection(elem, j)
        } else {
          val st = i
          i = ident(elem, i)
          if (i == st) return fail("malformed fragment spread")
          val (k1, n1) = directives(i)
          keep &= k1; i = n1
        }
      } else {
        val st = i
        i = ident(elem, i) // field name (or alias)
        if (i == st)
          return fail(s"unexpected character '${s.charAt(i)}' in selection set")
        var scratch = new StringBuilder
        var j = skipWs(scratch, i)
        if (j < s.length && s.charAt(j) == ':') { // alias: real name
          elem.append(scratch).append(':'); i = j + 1
          i = skipWs(elem, i)
          i = ident(elem, i)
          scratch = new StringBuilder
          j = skipWs(scratch, i)
        }
        if (j < s.length && s.charAt(j) == '(') { // arguments, verbatim
          val close = matchDelim(s, j, '(', ')')
          if (close < 0) return fail("unbalanced argument list")
          elem.append(scratch).append(s.substring(j, close + 1))
          i = close + 1
        }
        val (k1, n1) = directives(i)
        keep &= k1; i = n1
        scratch = new StringBuilder
        j = skipWs(scratch, i)
        if (j < s.length && s.charAt(j) == '{') { // nested selection
          elem.append(scratch)
          i = selection(elem, j)
        }
      }
      if (keep) out.append(elem) else out.append(' ')
      out.append(' ')
      i
    }

    // `{ element* }` starting at the '{' at `from`; returns index after '}'
    def selection(out: StringBuilder, from: Int): Int = {
      out.append('{')
      var i = from + 1
      var done = false
      while (!done && err.isEmpty) {
        i = skipWs(out, i)
        if (i >= s.length) return fail("unbalanced selection set")
        else if (s.charAt(i) == '}') { out.append('}'); i += 1; done = true }
        else i = element(out, i)
      }
      i
    }

    // top level: copy everything verbatim (operation keywords, fragment
    // headers), recursing into each selection set
    val out = new StringBuilder(s.length)
    var i = 0
    var inStr = false
    while (i < s.length && err.isEmpty) {
      val c = s.charAt(i)
      if (inStr) {
        out.append(c)
        if (c == '\\' && i + 1 < s.length) { out.append(s.charAt(i + 1)); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (c == '"') { inStr = true; out.append(c); i += 1 }
      else if (c == '{') i = selection(out, i)
      else { out.append(c); i += 1 }
    }
    err.toLeft(out.toString)
  }

  /** Fragment support, textually: `fragment F on T { ... }` definitions
    * are lifted out of the document and every spread (`...F`, or the
    * inline `... on T { ... }`) is spliced in place, outside string
    * literals, to a bounded depth (cycles error out). Type conditions are
    * not enforced per-position — the schema's selections are validated
    * field-by-field downstream, which catches a fragment used on the
    * wrong type the same way it catches a bad field. */
  private[serve] def expandFragments(doc0: String): Either[String, String] = {
    if (!doc0.contains("fragment") && !doc0.contains("...")) return Right(doc0)
    var doc = doc0
    val defs = scala.collection.mutable.Map[String, String]()
    val defRe =
      """fragment\s+([A-Za-z_][A-Za-z0-9_]*)\s+on\s+[A-Za-z_][A-Za-z0-9_]*\s*\{""".r
    var m = defRe.findFirstMatchIn(doc)
    while (m.isDefined) {
      val mm = m.get
      val open = mm.end - 1
      val close = matchDelim(doc, open, '{', '}')
      if (close < 0) return Left("unbalanced fragment body")
      defs += mm.group(1) -> doc.substring(open + 1, close)
      doc = doc.substring(0, mm.start) + " " + doc.substring(close + 1)
      m = defRe.findFirstMatchIn(doc)
    }

    // one splice pass over the document, outside string literals
    def expandOnce(s: String): Either[String, (String, Boolean)] = {
      val sb = new StringBuilder(s.length)
      var i = 0
      var inStr = false
      var changed = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (inStr) {
          sb.append(c)
          if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 1 }
          else if (c == '"') inStr = false
          i += 1
        } else if (c == '"') { inStr = true; sb.append(c); i += 1 }
        else if (c == '.' && s.startsWith("...", i)) {
          i += 3
          while (i < s.length && s.charAt(i).isWhitespace) i += 1
          // inline fragment: `... on Type { body }` — splice the body
          if (s.startsWith("on", i) &&
            (i + 2 >= s.length || !s.charAt(i + 2).isLetterOrDigit)) {
            i += 2
            while (i < s.length && s.charAt(i).isWhitespace) i += 1
            while (i < s.length &&
              (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1 // type
            while (i < s.length && s.charAt(i).isWhitespace) i += 1
            if (i >= s.length || s.charAt(i) != '{')
              return Left("malformed inline fragment")
            val close = matchDelim(s, i, '{', '}')
            if (close < 0) return Left("unbalanced inline fragment")
            sb.append(' ').append(s.substring(i + 1, close)).append(' ')
            i = close + 1
            changed = true
          } else {
            val st = i
            while (i < s.length &&
              (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
            val name = s.substring(st, i)
            if (name.isEmpty) return Left("malformed fragment spread")
            defs.get(name) match {
              case Some(body) =>
                sb.append(' ').append(body).append(' '); changed = true
              case None => return Left(s"""Unknown fragment "$name".""")
            }
          }
        } else { sb.append(c); i += 1 }
      }
      Right((sb.toString, changed))
    }

    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      if (rounds > 16) return Left("fragment spreads too deep (cycle?)")
      expandOnce(doc) match {
        case Left(e) => return Left(e)
        case Right((next, ch)) => doc = next; changed = ch
      }
    }
    Right(doc)
  }

  /** Parse a whole document: one or more root fields (`entries`, `stats`),
    * each with an optional ALIAS (`mine: entries(...) { ... }` — response
    * key = alias) — the standard multi-root-field shape graph-gophers
    * serves for the reference. Returns (responseKey, query) in document
    * order. Introspection probes anywhere yield the schema document. */
  private[serve] def parseDocument(
      query: String): Either[String, Seq[(String, GqlQuery)]] = {
    // introspection probes (`{ __schema { ... } }`) get a schema
    // document instead of an error — capability discovery is the first
    // thing a real GraphQL client sends (the reference serves this via
    // graphql-go's schema-first engine)
    if (query.contains("__schema"))
      return Right(Seq("__schema" -> IntrospectionQuery))
    val start = query.indexOf('{')
    if (start < 0) return Left("missing selection set")
    val end = matchDelim(query, start, '{', '}')
    if (end < 0) return Left("unbalanced selection set")
    val body = query.substring(start + 1, end)

    val out = Seq.newBuilder[(String, GqlQuery)]
    var i = 0
    def skipWs(): Unit = {
      while (i < body.length &&
        (body.charAt(i).isWhitespace || body.charAt(i) == ',')) i += 1
    }
    def ident(): String = {
      val s = i
      while (i < body.length &&
        (body.charAt(i).isLetterOrDigit || body.charAt(i) == '_')) i += 1
      body.substring(s, i)
    }
    skipWs()
    while (i < body.length) {
      val first = ident()
      if (first.isEmpty)
        return Left(s"unexpected character '${body.charAt(i)}' in selection set")
      skipWs()
      // `alias: field` — a ':' after the first identifier names the
      // response key (GraphQL field alias, root level)
      val (key, name) =
        if (i < body.length && body.charAt(i) == ':') {
          i += 1; skipWs()
          val n = ident()
          if (n.isEmpty) return Left(s"missing field name after alias '$first'")
          (first, n)
        } else (first, first)
      skipWs()
      val args =
        if (i < body.length && body.charAt(i) == '(') {
          val close = matchDelim(body, i, '(', ')')
          if (close < 0) return Left("unbalanced argument list")
          val a = body.substring(i + 1, close)
          i = close + 1
          Some(a)
        } else None
      skipWs()
      val sel =
        if (i < body.length && body.charAt(i) == '{') {
          val close = matchDelim(body, i, '{', '}')
          if (close < 0) return Left("unbalanced selection set")
          val s = body.substring(i + 1, close)
          i = close + 1
          Some(s)
        } else None
      name match {
        case "entries" =>
          parseEntries(args.getOrElse(
            return Left("missing argument list")),
            sel.getOrElse(return Left("missing selection set"))) match {
            case Left(e) => return Left(e)
            case Right(q) => out += key -> q
          }
        case "stats" =>
          parseStatsFields(sel.getOrElse(
            return Left("empty selection set"))) match {
            case Left(e) => return Left(e)
            case Right(q) => out += key -> q
          }
        case other =>
          return Left(s"""Cannot query field "$other" on type "Query".""")
      }
      skipWs()
    }
    val fields = out.result()
    if (fields.isEmpty) Left("empty selection set")
    else if (fields.map(_._1).distinct.size != fields.size)
      Left("duplicate response key; alias one of the fields")
    else Right(fields)
  }

  /** Index of the delimiter closing `open` at `from`, skipping quoted
    * spans — a ')' or '}' inside a string argument (legal in TXT rdata)
    * must not close the scope. -1 when unbalanced. */
  private def matchDelim(s: String, from: Int, open: Char, close: Char): Int = {
    var depth = 0
    var inStr = false
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else if (c == '"') inStr = true
      else if (c == open) depth += 1
      else if (c == close) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  /** Undo GraphQL/JSON string escapes. [[substituteVariables]] splices
    * variable strings through the JSON mapper (escaping quotes and
    * backslashes), and inline literals may carry the same escapes — the
    * argument parser must reverse them or a value containing '"' (legal
    * in TXT rdata) silently truncates at the backslash. */
  private def unescapeString(v: String): String = {
    if (!v.contains('\\')) return v
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 5 < v.length &&
            v.substring(i + 2, i + 6).forall(ch =>
              ch.isDigit || ('a' <= ch.toLower && ch.toLower <= 'f')) =>
            sb.append(Integer.parseInt(v.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2 // covers \" \\ \/ and lenient rest
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def parseEntries(argStr: String,
      sel: String): Either[String, GqlQuery] = {
    // escape-aware value match: stops at the closing quote, not at an
    // escaped one — `rrname: "x\"y"` must yield the 3-char value x"y
    def strArg(name: String): Option[String] =
      (s"""$name\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
        .findFirstMatchIn(argStr).map(m => unescapeString(m.group(1)))
    // rrtype is a GraphQL enum: bare token OR quoted string both accepted
    val rrtype = strArg("rrtype").orElse(
      """rrtype\s*:\s*([A-Za-z0-9]+)""".r.findFirstMatchIn(argStr).map(_.group(1)))
    // toIntOption: digits beyond Int.MaxValue are a client error, not a
    // NumberFormatException-turned-500
    val limitOpt = """limit\s*:\s*(\d+)""".r.findFirstMatchIn(argStr)
    if (limitOpt.exists(_.group(1).toIntOption.isEmpty))
      return Left(s"invalid limit: ${limitOpt.get.group(1)}")
    val limit = limitOpt.flatMap(_.group(1).toIntOption).getOrElse(1000)

    // `aliases(limit: Int = 1000) { ... }` — the per-entry cap is a field
    // argument in the reference schema (`query_graphql.go:105`)
    val aliasSel =
      """aliases\s*(?:\(\s*limit\s*:\s*(\d+)\s*\))?\s*\{([^}]*)\}""".r
        .findFirstMatchIn(sel)
    val aliasFields = aliasSel.map(_.group(2).trim.split("\\s+").toSeq
      .filter(_.nonEmpty)).getOrElse(Seq.empty)
    val aliasLimitRaw = aliasSel.flatMap(m => Option(m.group(1)))
    if (aliasLimitRaw.exists(_.toIntOption.isEmpty))
      return Left(s"invalid aliases limit: ${aliasLimitRaw.get}")
    val aliasLimit = aliasLimitRaw.flatMap(_.toIntOption).getOrElse(1000)
    val scalarSel = aliasSel.map(m => sel.replace(m.matched, " ")).getOrElse(sel)
    val fields = scalarSel.split("[\\s,]+").toSeq.filter(_.nonEmpty)
    if (fields.isEmpty && aliasFields.isEmpty) return Left("empty selection set")

    // enum validation (`query_graphql.go:26-73`): a value outside RRType
    // is a schema error, as graphql-go would report it — not a silent
    // empty result. Quoted strings are accepted leniently but validated
    // against the same enum.
    rrtype.filterNot(RRTypes.contains) match {
      case Some(bad) =>
        Left(s"""Argument "rrtype" has invalid value $bad, expected type "RRType".""")
      case None =>
        Right(EntriesQuery(strArg("rrname"), strArg("rdata"), rrtype,
          strArg("sensor_id"), limit, fields, aliasFields, aliasLimit))
    }
  }

  /** `stats { total_count num_goroutines }` (`query_graphql.go:166-172,
    * 297-311`): the second root field of the reference schema. */
  private def parseStatsFields(sel: String): Either[String, GqlQuery] = {
    val fields = sel.split("[\\s,]+").toSeq.filter(_.nonEmpty)
    if (fields.isEmpty) return Left("empty selection set")
    fields.find(f => !statsFields.contains(f)) match {
      case Some(bad) => Left(s"""Cannot query field "$bad" on type "Stats".""")
      case None => Right(StatsQuery(fields))
    }
  }

  // ------------------------------------------------------------ render

  private val validFields = Set("id", "rrname", "rrtype", "rdata",
    "sensor_id", "count", "time_first", "time_last",
    "time_first_rfc3339", "time_last_rfc3339")

  private def renderEntries(data: ObjectNode, key: String, q: EntriesQuery,
      store: ObservationStore): Unit = {
    val rows = store.answerPoint(q.rrname, q.rdata, q.rrtype, q.sensorId,
      q.limit)
    val aliasesByKey: Map[(String, String, String), Seq[Observation]] =
      if (q.aliasFields.isEmpty) Map.empty
      else store.answerAliases(rows, q.aliasLimit)

    val arr = data.putArray(key)
    rows.foreach { row =>
      val o = arr.addObject()
      writeFields(o, row, q.fields)
      if (q.aliasFields.nonEmpty) {
        val aArr = o.putArray("aliases")
        aliasesByKey.getOrElse((row.rrname, row.sensor_id, row.rdata),
          Seq.empty).foreach(ar => writeFields(aArr.addObject(), ar, q.aliasFields))
      }
    }
  }

  /** Stats resolver: total_count = distinct-key count of the store;
    * num_goroutines' JVM analogue is the live thread count
    * (`query_graphql.go:307-311` reports runtime.NumGoroutine()). */
  private def renderStatsInto(data: ObjectNode, key: String,
      fields: Seq[String], store: ObservationStore): Unit = {
    val stats = data.putObject(key)
    fields.foreach {
      case "total_count" => stats.put("total_count", store.totalCount()); ()
      case "num_goroutines" =>
        stats.put("num_goroutines", Thread.activeCount()); ()
      case _ => // validated at parse time
    }
  }

  /** Minimal-but-honest introspection document for the served subset of
    * the reference schema (`query_graphql.go:25-192`): the Query root
    * with entries/stats, the Entry/LeafEntry/Stats objects, and the full
    * 46-value RRType enum. Field types are rendered flat (no NON_NULL/
    * LIST wrappers) — enough for capability discovery, not a full
    * graphql-js compliance surface. */
  private def renderIntrospection(): String = {
    val root = mapper.createObjectNode()
    val schema = root.putObject("data").putObject("__schema")
    schema.putObject("queryType").put("name", "Query")
    schema.putNull("mutationType")
    schema.putNull("subscriptionType")
    val types = schema.putArray("types")

    def objectType(name: String, fields: Seq[(String, String)]): Unit = {
      val t = types.addObject()
      t.put("kind", "OBJECT").put("name", name)
      val fs = t.putArray("fields")
      fields.foreach { case (fname, ftype) =>
        val f = fs.addObject()
        f.put("name", fname)
        f.putArray("args")
        val ft = f.putObject("type")
        ft.put("kind", if (ftype == "RRType") "ENUM"
          else if (ftype.startsWith("[")) "LIST" else "SCALAR")
        ft.put("name", ftype)
      }
    }

    objectType("Query", Seq("entries" -> "[Entry]", "stats" -> "Stats"))
    val entryFields = Seq("count" -> "Int", "rrname" -> "String",
      "rrtype" -> "RRType", "rdata" -> "String", "time_first" -> "Int",
      "time_first_rfc3339" -> "String", "time_last" -> "Int",
      "time_last_rfc3339" -> "String", "sensor_id" -> "String")
    objectType("Entry", entryFields :+ ("aliases" -> "[LeafEntry]"))
    objectType("LeafEntry", entryFields)
    objectType("Stats",
      Seq("total_count" -> "Int", "num_goroutines" -> "Int"))
    val enumT = types.addObject()
    enumT.put("kind", "ENUM").put("name", "RRType")
    val evs = enumT.putArray("enumValues")
    RRTypes.toSeq.sorted.foreach(v => evs.addObject().put("name", v))
    Seq("String", "Int", "Boolean").foreach { s =>
      types.addObject().put("kind", "SCALAR").put("name", s)
    }
    mapper.writeValueAsString(root)
  }

  private def writeFields(o: ObjectNode, e: Observation,
      fields: Seq[String]): Unit = {
    import QueryServer.unixSeconds
    def rfc3339(ts: java.sql.Timestamp) =
      java.time.Instant.ofEpochSecond(unixSeconds(ts)).toString
    fields.filter(validFields.contains).foreach {
      case "count" => o.put("count", e.count)
      case "time_first" => o.put("time_first", unixSeconds(e.first_seen))
      case "time_last" => o.put("time_last", unixSeconds(e.last_seen))
      case "time_first_rfc3339" => o.put("time_first_rfc3339", rfc3339(e.first_seen))
      case "time_last_rfc3339" => o.put("time_last_rfc3339", rfc3339(e.last_seen))
      case "id" => // synthetic, not persisted (observation.go:16): stable hash
        o.put("id", java.util.UUID.nameUUIDFromBytes(
          (e.rrname + "\u001f" + e.sensor_id + "\u001f" + e.rrtype +
            "\u001f" + e.rdata).getBytes("UTF-8")).toString)
      case "rrname" => o.put("rrname", e.rrname)
      case "rrtype" => o.put("rrtype", e.rrtype)
      case "rdata" => o.put("rdata", e.rdata)
      case "sensor_id" => o.put("sensor_id", e.sensor_id)
    }
  }
}
