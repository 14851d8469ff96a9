package graft.parser

import scala.jdk.CollectionConverters._

import graft.artifacts.Json

/** The data-shaping context functions of the reference's base context
  * (core/dbt/context/base.py:375-631): `fromjson` / `tojson` /
  * `fromyaml` / `toyaml` / `set` / `set_strict` / `zip` / `zip_strict`.
  *
  * The reference exposes them as Jinja context members; here they are
  * parse-time callables inside template expressions (ControlFlow.Expr
  * evaluates calls and subscripts) plus a programmatic surface on
  * exec.Context. Values use the same shapes the rest of the parser
  * already speaks: Map[String, Any] / List[Any] / Long / Double /
  * Boolean / String / null.
  */
object ContextFuncs {

  val names: Set[String] = Set(
    "fromjson", "tojson", "fromyaml", "toyaml",
    "set", "set_strict", "zip", "zip_strict", "diff_of_two_dicts", "print")

  /** Dispatch a call by name (args already evaluated). */
  def call(name: String, args: List[Any]): Any = name match {
    // reference base.py:672 — prints to stdout, renders EMPTY (returns
    // ""), so {{ print(...) }} leaves no residue in the compiled SQL
    case "print" =>
      println(args.headOption.map(String.valueOf).getOrElse(""))
      ""
    case "fromjson" => args match {
      case (s: String) :: rest =>
        try fromJson(s) catch { case _: Exception => rest.headOption.orNull }
      case other :: rest => rest.headOption.getOrElse(other)
      case Nil => null
    }
    case "tojson" => args match {
      case v :: rest =>
        try toJson(v) catch { case _: Exception => rest.headOption.orNull }
      case Nil => null
    }
    case "fromyaml" => args match {
      case (s: String) :: rest =>
        try MiniYaml.parse(s) catch { case _: Exception => rest.headOption.orNull }
      case other :: rest => rest.headOption.getOrElse(other)
      case Nil => null
    }
    case "toyaml" => args match {
      case v :: rest =>
        try toYaml(v) catch { case _: Exception => rest.headOption.orNull }
      case Nil => null
    }
    // Python set() is unordered; a template renders text, so determinism
    // wins: first-occurrence-order distinct (the reference's own tests
    // pipe set() through sort/list before rendering for the same reason)
    case "set" => args match {
      case (l: Seq[_]) :: _ => l.distinct
      case (s: String) :: _ => s.toSeq.map(_.toString).distinct
      case other :: rest => rest.headOption.getOrElse(null)
      case Nil => null
    }
    case "set_strict" => args match {
      case (l: Seq[_]) :: _ => l.distinct
      case (s: String) :: _ => s.toSeq.map(_.toString).distinct
      case other => throw new IllegalArgumentException(
        s"set_strict: not an iterable: $other")
    }
    case "zip" =>
      try zipLists(args) catch { case _: Exception => null }
    case "zip_strict" => zipLists(args)
    // reference base.py:691 — dict_a minus dict_b per key, values
    // compared case-insensitively, original casing of dict_a kept;
    // empty remainders drop. (The grants-diff helper.)
    case "diff_of_two_dicts" => args match {
      case (a: Map[_, _]) :: (b: Map[_, _]) :: _ =>
        val bNorm = b.map { case (k, v) =>
          String.valueOf(k).toLowerCase -> (v match {
            case l: Seq[_] => l.map(x => String.valueOf(x).toLowerCase).toSet
            case other => Set(String.valueOf(other).toLowerCase)
          })
        }
        scala.collection.immutable.VectorMap.from(
          a.toSeq.flatMap { case (k, v) =>
            val bVals = bNorm.getOrElse(String.valueOf(k).toLowerCase, Set.empty)
            val rem = (v match {
              case l: Seq[_] => l.toList
              case other => List(other)
            }).filterNot(x => bVals.contains(String.valueOf(x).toLowerCase))
            if (rem.isEmpty) None else Some(String.valueOf(k) -> rem)
          })
      case other => throw new IllegalArgumentException(
        s"diff_of_two_dicts(dict_a, dict_b) got: $other")
    }
    case other => throw new IllegalArgumentException(s"unknown context function: $other")
  }

  private def zipLists(args: List[Any]): Any = {
    val lists = args.map {
      case l: Seq[_] => l
      case s: String => s.toSeq.map(_.toString)
      case other => throw new IllegalArgumentException(s"zip: not an iterable: $other")
    }
    if (lists.isEmpty) Nil
    else {
      val n = lists.map(_.length).min
      (0 until n).map(i => lists.map(_(i)): Seq[Any]).toList
    }
  }

  // ---- JSON (Jackson is already on the Spark classpath) ----

  def fromJson(s: String): Any =
    convert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[Object]))

  private def convert(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      // LinkedHashMap from Jackson — keep insertion order so tojson
      // round-trips and rendered text is deterministic
      scala.collection.immutable.VectorMap.from(
        m.asScala.toSeq.map { case (k, x) => String.valueOf(k) -> convert(x) })
    case l: java.util.List[_] => l.asScala.map(convert).toList
    case i: java.lang.Integer => i.longValue()
    case i: java.math.BigInteger => i.longValue()
    case d: java.math.BigDecimal => d.doubleValue()
    case other => other
  }

  def toJson(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => Json.quote(String.valueOf(k)) + ": " + toJson(x) }
        .mkString("{", ", ", "}")
    case l: Seq[_] => l.map(toJson).mkString("[", ", ", "]")
    case s: String => Json.quote(s)
    case b: Boolean => b.toString
    case n => String.valueOf(n)
  }

  // ---- YAML emission (MiniYaml parses; this is its writing half) ----

  def toYaml(v: Any): String = {
    val sb = new StringBuilder
    emitYaml(v, 0, sb)
    sb.toString
  }

  private def needsQuote(s: String): Boolean =
    s.isEmpty || s.exists(c => ":#\n\"'{}[]".contains(c)) ||
      s != s.trim || s.matches(raw"-?\d+(\.\d+)?") ||
      Set("true", "false", "null", "~").contains(s)

  private def scalar(v: Any): String = v match {
    case null => "null"
    case s: String => if (needsQuote(s)) Json.quote(s) else s
    case other => String.valueOf(other)
  }

  private def emitYaml(v: Any, indent: Int, sb: StringBuilder): Unit = {
    val pad = "  " * indent
    v match {
      case m: Map[_, _] if m.nonEmpty =>
        m.foreach { case (k, x) =>
          x match {
            case mm: Map[_, _] if mm.nonEmpty =>
              sb ++= s"$pad${String.valueOf(k)}:\n"; emitYaml(mm, indent + 1, sb)
            case l: Seq[_] if l.nonEmpty =>
              sb ++= s"$pad${String.valueOf(k)}:\n"; emitYaml(l, indent + 1, sb)
            case other =>
              sb ++= s"$pad${String.valueOf(k)}: ${scalar(other)}\n"
          }
        }
      case m: Map[_, _] => sb ++= s"$pad{}\n"
      case l: Seq[_] if l.nonEmpty =>
        l.foreach {
          case mm: Map[_, _] if mm.nonEmpty =>
            // "- " then the first key inline, rest nested (block style)
            val kvs = mm.toSeq
            sb ++= s"$pad- ${String.valueOf(kvs.head._1)}: ${scalar(kvs.head._2)}\n"
            kvs.tail.foreach { case (k, x) =>
              sb ++= s"$pad  ${String.valueOf(k)}: ${scalar(x)}\n" }
          case x => sb ++= s"$pad- ${scalar(x)}\n"
        }
      case l: Seq[_] => sb ++= s"$pad[]\n"
      case other => sb ++= s"$pad${scalar(other)}\n"
    }
  }

  /** Jinja-style rendering of an evaluated value into template text:
    * strings bare, maps/lists Python-repr-ish (what `{{ my_dict }}`
    * prints under the reference).
    */
  def show(v: Any): String = v match {
    case null => "None"
    case s: String => s
    case true => "True"
    case false => "False"
    case d: Double if d == d.floor && !d.isInfinite => d.toLong.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => repr(k) + ": " + repr(x) }.mkString("{", ", ", "}")
    case l: Seq[_] => l.map(repr).mkString("[", ", ", "]")
    case other => String.valueOf(other)
  }

  private def repr(v: Any): String = v match {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case other => show(other)
  }
}
