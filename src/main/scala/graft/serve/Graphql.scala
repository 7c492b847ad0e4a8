package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.model.Observation
import graft.operators.ObservationStore

/** Executor for the reference's GraphQL query surface
  * (`query/query_graphql.go:25-192`), without a GraphQL engine
  * dependency. A request is tokenized once and parsed by recursive
  * descent into a small syntax tree: operations (`query`, optionally
  * named, with variable definitions and defaults, or the `{ ... }`
  * shorthand; of several, the one `operationName` names runs), fields
  * with an alias, arguments, `@skip`/`@include` and a sub-selection,
  * fragment spreads, inline fragments and fragment definitions. One
  * walk over that tree resolves variables to typed values, drops the
  * nodes the directives exclude, expands fragments (a fragment spread
  * inside itself is an error), checks every field and argument against
  * the served schema and yields one [[GqlQuery]] per root field:
  *  - `Query`: `entries(rrname, rdata, rrtype, sensor_id, limit)`,
  *    `stats` and `__schema` (the introspection document);
  *  - `Entry`: `id rrname rrtype rdata sensor_id count time_first
  *    time_last time_first_rfc3339 time_last_rfc3339` and
  *    `aliases(limit) { ... }` over `LeafEntry` (the same scalars);
  *  - `Stats`: `total_count num_goroutines`.
  * `__typename` is served on `Entry`, `LeafEntry` and `Stats`. Response
  * keys follow field aliases and selection order at every level. Argument
  * values are only ever data: a string may hold any text. Every error
  * (syntax, unknown field or argument, duplicate argument, wrong value
  * kind, a `limit` outside [0, 2^31-1], several operations and no
  * `operationName` that picks one of them) is a `Left(message)` returned
  * before the store is read. */
object Graphql {

  private val mapper = new ObjectMapper()

  sealed trait GqlQuery
  /** `fields` are (response key, field name) pairs in selection order;
    * an `aliases` field among them renders `aliasFields` per alias. */
  final case class EntriesQuery(
      rrname: Option[String], rdata: Option[String], rrtype: Option[String],
      sensorId: Option[String], limit: Int,
      fields: Seq[(String, String)], aliasFields: Seq[(String, String)],
      aliasLimit: Int = 1000) extends GqlQuery
  final case class StatsQuery(fields: Seq[(String, String)]) extends GqlQuery
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

  private val entryFields = Set("id", "rrname", "rrtype", "rdata",
    "sensor_id", "count", "time_first", "time_last", "time_first_rfc3339",
    "time_last_rfc3339", "__typename")

  /** The fields of each served object type. */
  private val schema: Map[String, Set[String]] = Map(
    "Query" -> Set("entries", "stats", "__schema"),
    "Entry" -> (entryFields + "aliases"),
    "LeafEntry" -> entryFields,
    "Stats" -> Set("total_count", "num_goroutines", "__typename"))

  /** Selection sets nest at most this deep, and one request expands at
    * most [[MaxSpreads]] fragment spreads: a hostile document cannot
    * exhaust the stack or grow exponentially. */
  private val MaxDepth = 64
  private val MaxSpreads = 500

  /** Parse + run + render. Left(error) on malformed queries or missing
    * required args (`query_graphql.go:242-246`). */
  def execute(query: String, store: ObservationStore): Either[String, String] =
    execute(query, None, store)

  /** [[execute]] with GraphQL variables (the `variables` member of the
    * standard JSON envelope — the single most common client pattern:
    * `{"query":"query($n:String){entries(rrname:$n){...}}",
    * "variables":{"n":"x"}}`; the reference gets this from graph-gophers,
    * `query/query_graphql.go:194-206`). A variable resolves to the same
    * typed value as the literal it stands for, so every argument rule
    * applies to it alike. */
  def execute(query: String, variables: Option[JsonNode],
      store: ObservationStore,
      operationName: Option[String] = None): Either[String, String] =
    parse(query, variables, operationName).map { fields =>
      if (fields.exists(_._2 == IntrospectionQuery)) renderIntrospection()
      else {
        val root = mapper.createObjectNode()
        val data = root.putObject("data")
        fields.foreach {
          case (key, q: EntriesQuery) => renderEntries(data, key, q, store)
          case (key, StatsQuery(sFields)) => renderStatsInto(data, key, sFields, store)
          case (_, IntrospectionQuery) => // handled above
        }
        mapper.writeValueAsString(root)
      }
    }

  /** The root fields of the document's operation — the one named
    * `operationName`, which a document of several operations must give —
    * as (response key, query), in selection order; empty when directives
    * exclude every root field. */
  def parse(query: String, variables: Option[JsonNode] = None,
      operationName: Option[String] = None)
      : Either[String, Seq[(String, GqlQuery)]] =
    try Right(new Walk(new Parser(tokenize(query)).document(operationName),
      variables).roots())
    catch { case e: GqlError => Left(e.getMessage) }

  // ------------------------------------------------------------- parse

  private final class GqlError(msg: String)
      extends Exception(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new GqlError(msg)

  /** A token: kind is Name, Punct, Int, Float, String or EOF; a String's
    * text is its decoded value. */
  private final case class Tok(kind: String, text: String)

  private def describe(t: Tok) = if (t.kind == "EOF") "<EOF>" else s"""${t.kind} "${t.text}""""

  /** GraphQL's lexical grammar: whitespace, commas and `#` comments are
    * ignored; strings take the JSON escapes and `\uXXXX`. */
  private def tokenize(s: String): IndexedSeq[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    def at(j: Int) = if (j < s.length) s.charAt(j) else '\u0000'
    def isDigit(c: Char) = c >= '0' && c <= '9'
    def isNameStart(c: Char) =
      c == '_' || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
    def digits(): Unit = {
      val st = i
      while (isDigit(at(i))) i += 1
      if (i == st) fail(s"Syntax Error: Invalid number, expected digit at $i.")
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (" \t\r\n,\uFEFF".indexOf(c) >= 0) i += 1
      else if (c == '#') while (i < s.length && at(i) != '\n' && at(i) != '\r') i += 1
      else if (s.startsWith("...", i)) { out += Tok("Punct", "..."); i += 3 }
      else if ("!$&()=:@[]{}|".indexOf(c) >= 0) { out += Tok("Punct", c.toString); i += 1 }
      else if (isNameStart(c)) {
        val st = i
        while (isNameStart(at(i)) || isDigit(at(i))) i += 1
        out += Tok("Name", s.substring(st, i))
      } else if (c == '-' || isDigit(c)) {
        val st = i
        if (c == '-') i += 1
        digits()
        if (at(i) == '.') { i += 1; digits() }
        if (at(i) == 'e' || at(i) == 'E') {
          i += 1
          if (at(i) == '+' || at(i) == '-') i += 1
          digits()
        }
        if (at(i) == '.' || isNameStart(at(i)))
          fail(s"Syntax Error: Invalid number, unexpected character at $i.")
        val num = s.substring(st, i)
        out += Tok(if (num.exists(".eE".contains(_))) "Float" else "Int", num)
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (at(i) != '"') {
          if (i >= s.length || at(i) == '\n' || at(i) == '\r')
            fail("Syntax Error: Unterminated string.")
          if (at(i) != '\\') { sb.append(at(i)); i += 1 }
          else if (at(i + 1) == 'u') {
            val hex = s.slice(i + 2, i + 6)
            if (hex.length < 4 ||
              !hex.forall(h => "0123456789abcdefABCDEF".indexOf(h) >= 0))
              fail(s"Syntax Error: Invalid Unicode escape sequence at $i.")
            sb.append(Integer.parseInt(hex, 16).toChar); i += 6
          } else "\"\\/bfnrt".indexOf(at(i + 1)) match {
            case -1 => fail(s"Syntax Error: Invalid character escape sequence at $i.")
            case k => sb.append("\"\\/\b\f\n\r\t".charAt(k)); i += 2
          }
        }
        out += Tok("String", sb.toString); i += 1
      } else fail(s"Syntax Error: Unexpected character '$c' at $i.")
    }
    (out += Tok("EOF", "")).result()
  }

  /** An argument value: a literal (kind Int, Float, String, Boolean, Enum
    * or Null) or a variable reference. */
  private sealed trait Value
  private final case class Lit(kind: String, text: String) extends Value
  private final case class Var(name: String) extends Value

  private type Args = Seq[(String, Value)]
  private final case class Directive(name: String, args: Args)
  private sealed trait Selection
  /** `key` is the alias, else the field name. */
  private final case class Field(key: String, name: String, args: Args,
      dirs: Seq[Directive], sel: Seq[Selection]) extends Selection
  private final case class Spread(name: String, dirs: Seq[Directive])
      extends Selection
  /** Type conditions are parsed, not kept: each field is checked
    * against the type it is selected on. */
  private final case class InlineFragment(dirs: Seq[Directive],
      sel: Seq[Selection]) extends Selection
  private final case class Document(vars: Seq[(String, Option[Value])],
      sel: Seq[Selection], fragments: Map[String, Seq[Selection]])

  /** Recursive descent over the tokens into a [[Document]]. */
  private final class Parser(toks: IndexedSeq[Tok]) {
    private var p = 0
    private def peek = toks(p)
    private def isPunct(s: String) = peek.kind == "Punct" && peek.text == s
    /** Consumes the punctuator or keyword `s` when it is next. */
    private def accept(s: String): Boolean =
      if (peek.kind != "String" && peek.text == s) { p += 1; true } else false
    private def expect(s: String): Unit =
      if (!accept(s)) fail(s"Syntax Error: Expected \"$s\", found ${describe(peek)}.")
    private def name(): String =
      if (peek.kind == "Name") { p += 1; toks(p - 1).text }
      else fail(s"Syntax Error: Expected Name, found ${describe(peek)}.")
    /** `open item+ close` */
    private def many[T](open: String, close: String)(item: => T): Seq[T] = {
      expect(open)
      val b = Seq.newBuilder[T]
      do b += item while (!accept(close))
      b.result()
    }

    def document(operationName: Option[String]): Document = {
      val ops = Seq.newBuilder[(Option[String], Document)]
      val frags = scala.collection.mutable.Map[String, Seq[Selection]]()
      while (peek.kind != "EOF") {
        if (accept("fragment")) {
          val n = name()
          expect("on")
          name()
          if (frags.put(n, selectionSet(1)).isDefined)
            fail(s"""There can be only one fragment named "$n".""")
        } else if (accept("query")) {
          val n = if (peek.kind == "Name") Some(name()) else None
          val vars = if (isPunct("(")) many("(", ")")(variable()) else Nil
          ops += n -> Document(vars, selectionSet(1), Map.empty)
        } else if (isPunct("{"))
          ops += None -> Document(Nil, selectionSet(1), Map.empty)
        else fail(s"Syntax Error: Unexpected ${describe(peek)}.")
      }
      val all = ops.result()
      if (all.isEmpty) fail("The document holds no operation.")
      if (all.size > 1 && all.exists(_._1.isEmpty))
        fail("The document holds more than one operation; each must be named.")
      val op = operationName match {
        case Some(n) => all.filter(_._1.contains(n)) match {
          case Seq((_, op)) => op
          case Seq() => fail(s"""Unknown operation named "$n".""")
          case _ => fail(s"""There can be only one operation named "$n".""")
        }
        case None if all.size == 1 => all.head._2
        case None => fail(
          "The document holds more than one operation; name one in operationName.")
      }
      op.copy(fragments = frags.toMap)
    }

    /** `$name: Type (= default)?`; the type is parsed, never read. */
    private def variable(): (String, Option[Value]) = {
      expect("$")
      val n = name()
      expect(":")
      var open = 0
      while (accept("[")) open += 1
      name()
      accept("!")
      for (_ <- 1 to open) { expect("]"); accept("!") }
      n -> (if (accept("=")) Some(value(const = true)) else None)
    }

    private def selectionSet(depth: Int): Seq[Selection] =
      if (depth > MaxDepth) fail(s"Selection sets nest deeper than $MaxDepth.")
      else many("{", "}")(selection(depth))

    private def selection(depth: Int): Selection =
      if (accept("...")) {
        val typed = accept("on")
        if (typed) name()
        if (typed || isPunct("{") || isPunct("@"))
          InlineFragment(directives(), selectionSet(depth + 1))
        else Spread(name(), directives())
      } else {
        val first = name()
        val fieldName = if (accept(":")) name() else first
        val args = if (isPunct("(")) arguments() else Nil
        val dirs = directives()
        Field(first, fieldName, args, dirs,
          if (isPunct("{")) selectionSet(depth + 1) else Nil)
      }

    private def arguments(): Args =
      many("(", ")") { val n = name(); expect(":"); n -> value(const = false) }

    private def directives(): Seq[Directive] = {
      val b = Seq.newBuilder[Directive]
      while (accept("@")) {
        val n = name()
        b += Directive(n, if (isPunct("(")) arguments() else Nil)
      }
      b.result()
    }

    private def value(const: Boolean): Value = {
      val t = peek
      if (t.kind != "EOF") p += 1
      t.kind match {
        case "Int" | "Float" | "String" => Lit(t.kind, t.text)
        case "Name" => t.text match {
          case "true" | "false" => Lit("Boolean", t.text)
          case "null" => Lit("Null", "null")
          case e => Lit("Enum", e)
        }
        case "Punct" if t.text == "$" && !const => Var(name())
        case "Punct" if t.text == "[" || t.text == "{" =>
          fail("List and object values are not supported; every argument is a scalar.")
        case _ => fail(s"Syntax Error: Unexpected ${describe(t)}.")
      }
    }
  }

  /** The one walk over a parsed document: variables resolve, directives
    * prune, fragments expand and every field and argument is checked
    * against [[schema]] as the root queries are built. */
  private final class Walk(doc: Document, variables: Option[JsonNode]) {
    private val declared = doc.vars.toMap
    if (declared.size != doc.vars.size) fail("There can be only one variable per name.")
    private var spreads = 0

    private def resolve(v: Value): Lit = v match {
      case l: Lit => l
      case Var(n) =>
        if (!declared.contains(n)) fail(s"""Variable "$$$n" is not defined.""")
        variables.flatMap(j => Option(j.get(n))).filterNot(_.isNull) match {
          case Some(j) if j.isTextual => Lit("String", j.asText)
          case Some(j) if j.isIntegralNumber => Lit("Int", j.asText)
          case Some(j) if j.isNumber => Lit("Float", j.asText)
          case Some(j) if j.isBoolean => Lit("Boolean", j.asText)
          case Some(_) =>
            fail(s"""Variable "$$$n" has a non-scalar value; only scalars are supported.""")
          case None => declared(n).map(resolve)
            .getOrElse(fail(s"""Variable "$$$n" is not defined."""))
        }
    }

    /** Resolved arguments by name; a null value is an absent argument. */
    private def argMap(args: Args, allowed: Set[String],
        owner: String): Map[String, Lit] =
      args.foldLeft(Map.empty[String, Lit]) { case (m, (n, v)) =>
        if (!allowed(n)) fail(s"""Unknown argument "$n" on $owner.""")
        if (m.contains(n)) fail(s"""There can be only one argument named "$n".""")
        m + (n -> resolve(v))
      }.filter(_._2.kind != "Null")

    private def invalid(arg: String, l: Lit, expected: String): Nothing = {
      val shown = if (l.kind == "String") mapper.writeValueAsString(l.text) else l.text
      fail(s"""Argument "$arg" has invalid value $shown, expected $expected.""")
    }

    private def included(dirs: Seq[Directive]): Boolean = dirs.map { d =>
      if (d.name != "skip" && d.name != "include")
        fail(s"""Unknown directive "@${d.name}".""")
      argMap(d.args, Set("if"), s"""directive "@${d.name}"""").get("if") match {
        case Some(Lit("Boolean", b)) => b.toBoolean != (d.name == "skip")
        case _ => fail(
          s"""Directive "@${d.name}" requires argument "if" of type "Boolean!".""")
      }
    }.forall(identity)

    /** `sel` with directives applied and fragments expanded; `path` holds
      * the fragments being expanded, so a spread inside itself fails. */
    private def collect(sel: Seq[Selection], path: Set[String]): Seq[Field] =
      sel.flatMap {
        case f: Field => if (included(f.dirs)) Seq(f) else Nil
        case Spread(n, dirs) =>
          if (!included(dirs)) Nil
          else {
            val frag = doc.fragments.getOrElse(n, fail(s"""Unknown fragment "$n"."""))
            if (path(n)) fail(s"""Cannot spread fragment "$n" within itself.""")
            spreads += 1
            if (spreads > MaxSpreads) fail(s"More than $MaxSpreads fragment spreads.")
            collect(frag, path + n)
          }
        case InlineFragment(dirs, s) => if (included(dirs)) collect(s, path) else Nil
      }

    /** The fields `sel` selects on `typeName`, checked against [[schema]]:
      * fields under one response key merge only when they are the same
      * field with the same arguments and selection, only `aliases` below
      * the root takes arguments or a sub-selection, and the selection is
      * empty only at the root, when directives excluded every field. */
    private def fields(sel: Seq[Selection], typeName: String,
        owner: String): Seq[Field] = {
      val fs = collect(sel, Set.empty)
      if (fs.isEmpty && typeName != "Query") fail(
        s"""Field "$owner" of type "$typeName" must have a selection of subfields.""")
      fs.groupBy(_.key).foreach { case (k, g) =>
        if (g.map(f => (f.name, f.args, f.sel)).distinct.size > 1)
          fail(s"""Fields "$k" conflict: they differ in name, arguments or selection; alias one.""")
      }
      fs.foreach { f =>
        if (!schema(typeName)(f.name))
          fail(s"""Cannot query field "${f.name}" on type "$typeName".""")
        if (typeName != "Query" && f.name != "aliases") {
          argMap(f.args, Set.empty, s"""field "$typeName.${f.name}"""")
          if (f.sel.nonEmpty) fail(
            s"""Field "${f.name}" must not have a selection since its type has no subfields.""")
        }
      }
      fs.distinctBy(_.key)
    }

    private def limit(args: Map[String, Lit]): Int = args.get("limit") match {
      case None => 1000
      case Some(Lit("Int", n)) if n.toIntOption.exists(_ >= 0) => n.toInt
      case Some(l) => invalid("limit", l, "an Int in [0, 2147483647]")
    }

    private def entries(f: Field): EntriesQuery = {
      val args = argMap(f.args,
        Set("rrname", "rdata", "rrtype", "sensor_id", "limit"), "field \"Query.entries\"")
      def string(n: String) = args.get(n).map {
        case Lit("String", s) => s
        case l => invalid(n, l, "type \"String\"")
      }
      // RRType is an enum; a string naming a member is accepted too
      val rrtype = args.get("rrtype").map {
        case Lit("Enum" | "String", t) if RRTypes(t) => t
        case l => invalid("rrtype", l, "type \"RRType\"")
      }
      val (rrname, rdata) = (string("rrname"), string("rdata"))
      if (rrname.isEmpty && rdata.isEmpty) fail("one of rrname or rdata must be given")
      val sub = fields(f.sel, "Entry", f.name)
      val aliases = sub.filter(_.name == "aliases")
      if (aliases.size > 1) fail("""Field "aliases" may be selected once per entry.""")
      val aliasArgs = aliases.headOption.map(a =>
        argMap(a.args, Set("limit"), "field \"Entry.aliases\"")).getOrElse(Map.empty)
      EntriesQuery(rrname, rdata, rrtype, string("sensor_id"), limit(args),
        sub.map(s => s.key -> s.name),
        aliases.flatMap(a => fields(a.sel, "LeafEntry", a.name)).map(s => s.key -> s.name),
        limit(aliasArgs))
    }

    def roots(): Seq[(String, GqlQuery)] =
      fields(doc.sel, "Query", "query").map { f =>
        f.key -> (f.name match {
          case "entries" => entries(f)
          case "stats" =>
            argMap(f.args, Set.empty, "field \"Query.stats\"")
            StatsQuery(fields(f.sel, "Stats", f.name).map(s => s.key -> s.name))
          case _ => IntrospectionQuery // __schema
        })
      }
  }

  // ------------------------------------------------------------ render

  private def renderEntries(data: ObjectNode, key: String, q: EntriesQuery,
      store: ObservationStore): Unit = {
    val rows = store.answerPoint(q.rrname, q.rdata, q.rrtype, q.sensorId,
      q.limit)
    val aliasesByKey: Map[(String, String, String), Seq[Observation]] =
      if (q.aliasFields.isEmpty) Map.empty
      else store.answerAliases(rows, q.aliasLimit)

    val arr = data.putArray(key)
    rows.foreach { row =>
      writeFields(arr.addObject(), row, q.fields, "Entry", aArr =>
        aliasesByKey.getOrElse((row.rrname, row.sensor_id, row.rdata), Seq.empty)
          .foreach(ar => writeFields(aArr.addObject(), ar, q.aliasFields, "LeafEntry")))
    }
  }

  /** Stats resolver: total_count = distinct-key count of the store;
    * num_goroutines' JVM analogue is the live thread count
    * (`query_graphql.go:307-311` reports runtime.NumGoroutine()). */
  private def renderStatsInto(data: ObjectNode, key: String,
      fields: Seq[(String, String)], store: ObservationStore): Unit = {
    val stats = data.putObject(key)
    fields.foreach {
      case (k, "total_count") => stats.put(k, store.totalCount()); ()
      case (k, "num_goroutines") => stats.put(k, Thread.activeCount()); ()
      case (k, _) => stats.put(k, "Stats"); () // __typename
    }
  }

  /** Minimal-but-honest introspection document for the served subset of
    * the reference schema (`query_graphql.go:25-192`): the Query root
    * with entries/stats, the Entry/LeafEntry/Stats objects with every
    * served field and argument (`__typename` is a meta-field, never
    * listed), and the full 46-value RRType enum. Types are rendered flat
    * (no NON_NULL/LIST wrappers) — enough for capability discovery, not a
    * full graphql-js compliance surface. */
  private def renderIntrospection(): String = {
    val root = mapper.createObjectNode()
    val schema = root.putObject("data").putObject("__schema")
    schema.putObject("queryType").put("name", "Query")
    schema.putNull("mutationType")
    schema.putNull("subscriptionType")
    val types = schema.putArray("types")

    def typeRef(o: ObjectNode, t: String): Unit =
      o.put("kind", if (t == "RRType") "ENUM" else if (t.startsWith("[")) "LIST"
        else if (Set("Entry", "LeafEntry", "Stats")(t)) "OBJECT" else "SCALAR")
        .put("name", t)
    /** (field, type, arguments as (name, type, default)) */
    def objectType(name: String,
        fields: Seq[(String, String, Seq[(String, String, Option[String])])]): Unit = {
      val t = types.addObject()
      t.put("kind", "OBJECT").put("name", name)
      val fs = t.putArray("fields")
      fields.foreach { case (fname, ftype, args) =>
        val f = fs.addObject()
        f.put("name", fname)
        val as = f.putArray("args")
        args.foreach { case (aname, atype, default) =>
          val a = as.addObject()
          a.put("name", aname)
          typeRef(a.putObject("type"), atype)
          default.fold(a.putNull("defaultValue"))(a.put("defaultValue", _))
        }
        typeRef(f.putObject("type"), ftype)
      }
    }

    val limit = ("limit", "Int", Some("1000"))
    objectType("Query", Seq(
      ("entries", "[Entry]", Seq(("rrname", "String", None),
        ("rdata", "String", None), ("rrtype", "RRType", None),
        ("sensor_id", "String", None), limit)),
      ("stats", "Stats", Nil)))
    val entryFields = Seq("id" -> "ID", "count" -> "Int",
      "rrname" -> "String", "rrtype" -> "RRType", "rdata" -> "String",
      "time_first" -> "Int", "time_first_rfc3339" -> "String",
      "time_last" -> "Int", "time_last_rfc3339" -> "String",
      "sensor_id" -> "String").map { case (f, t) => (f, t, Nil) }
    objectType("Entry", entryFields :+ (("aliases", "[LeafEntry]", Seq(limit))))
    objectType("LeafEntry", entryFields)
    objectType("Stats", Seq(("total_count", "Int", Nil),
      ("num_goroutines", "Int", Nil)))
    val enumT = types.addObject()
    enumT.put("kind", "ENUM").put("name", "RRType")
    val evs = enumT.putArray("enumValues")
    RRTypes.toSeq.sorted.foreach(v => evs.addObject().put("name", v))
    Seq("ID", "String", "Int", "Boolean").foreach { s =>
      types.addObject().put("kind", "SCALAR").put("name", s)
    }
    mapper.writeValueAsString(root)
  }

  /** Writes `fields` (response key, field name) of `e`; an `aliases`
    * field's array is filled by `aliases`. */
  private def writeFields(o: ObjectNode, e: Observation,
      fields: Seq[(String, String)], typeName: String,
      aliases: ArrayNode => Unit = _ => ()): Unit = {
    import QueryServer.unixSeconds
    def rfc3339(ts: java.sql.Timestamp) =
      java.time.Instant.ofEpochSecond(unixSeconds(ts)).toString
    fields.foreach { case (k, name) => name match {
      case "count" => o.put(k, e.count)
      case "time_first" => o.put(k, unixSeconds(e.first_seen))
      case "time_last" => o.put(k, unixSeconds(e.last_seen))
      case "time_first_rfc3339" => o.put(k, rfc3339(e.first_seen))
      case "time_last_rfc3339" => o.put(k, rfc3339(e.last_seen))
      case "id" => // synthetic, not persisted (observation.go:16): stable hash
        o.put(k, java.util.UUID.nameUUIDFromBytes(
          (e.rrname + "\u001f" + e.sensor_id + "\u001f" + e.rrtype +
            "\u001f" + e.rdata).getBytes("UTF-8")).toString)
      case "rrname" => o.put(k, e.rrname)
      case "rrtype" => o.put(k, e.rrtype)
      case "rdata" => o.put(k, e.rdata)
      case "sensor_id" => o.put(k, e.sensor_id)
      case "aliases" => aliases(o.putArray(k))
      case _ => o.put(k, typeName) // __typename
    }}
  }
}
