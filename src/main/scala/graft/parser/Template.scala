package graft.parser

import scala.util.matching.Regex

/** Minimal model-template engine: the `{{ ref() }}` / `{{ source() }}` /
  * `{{ config(...) }}` / `{{ var() }}` / `{{ this }}` surface.
  *
  * The reference itself avoids full Jinja when it can (static parser,
  * reference core/dbt/parser/models.py:236-295 backed by a Rust
  * tree-sitter extractor); we take the same static route as the primary
  * path. Full Jinja (loops, user macros) is an explicit non-goal
  * (SURVEY.md §7.3).
  */
object Template {
  /** Full ref() surface: `ref('m')`, `ref('pkg','m')`, `ref('m', v=2)`,
    * `ref('pkg','m', version=2)` (reference providers.py:260-305).
    * Group 1 = the raw argument list, parsed by [[refSpec]].
    */
  private val refRe: Regex =
    raw"""\{\{\s*ref\s*\(([^()]*)\)\s*\}\}""".r

  /** Canonical encoding of a ref's arguments: `[pkg/]name[@vN]` — a
    * single string key that flows through scan → dependsOn placeholders
    * → Manifest.resolveRefSpec without widening every `refs: Seq[String]`
    * signature in between.
    */
  def refSpec(argText: String): String = {
    val args = splitArgs(argText).map(_.trim).filter(_.nonEmpty)
    def unq(s: String): String =
      if (s.length >= 2 && ((s.head == '\'' && s.last == '\'') || (s.head == '"' && s.last == '"')))
        s.substring(1, s.length - 1)
      else s
    val (kwargs, positional) = args.partition(a =>
      a.indexOf('=') > 0 && a.take(a.indexOf('=')).trim.matches(raw"[A-Za-z_]\w*"))
    val kw = kwargs.map { a =>
      val eq = a.indexOf('=')
      a.take(eq).trim -> unq(a.drop(eq + 1).trim)
    }.toMap
    val ver = kw.get("v").orElse(kw.get("version"))
    val (pkg, nm) = positional.map(unq) match {
      case Seq(n) => (None, n)
      case Seq(p, n) => (Some(p), n)
      case other => throw new IllegalArgumentException(s"cannot parse ref($argText): $other")
    }
    pkg.fold("")(_ + "/") + nm + ver.fold("")("@v" + _)
  }
  private val sourceRe: Regex =
    raw"""\{\{\s*source\s*\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)\s*\}\}""".r
  private val configRe: Regex =
    raw"""(?s)\{\{\s*config\s*\((.*?)\)\s*\}\}""".r
  private val varRe: Regex =
    raw"""\{\{\s*var\s*\(\s*['"]([^'"]+)['"]\s*(?:,\s*([^)]+))?\)\s*\}\}""".r
  private val thisRe: Regex = raw"""\{\{\s*this\s*\}\}""".r
  private val envVarRe: Regex =
    raw"""\{\{\s*env_var\s*\(\s*['"]([^'"]+)['"]\s*(?:,\s*([^)]+))?\)\s*\}\}""".r
  private val incrementalBlockRe: Regex =
    raw"""(?s)\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)(?:\{%\s*else\s*%\}(.*?))?\{%\s*endif\s*%\}""".r

  final case class Scan(
      refs: Seq[String],
      sources: Seq[(String, String)],
      config: Map[String, Any],
      vars: Seq[String])

  /** Static extraction of refs/sources/config/vars without rendering.
    * Refs come back as canonical [[refSpec]] strings.
    */
  def scan(raw: String): Scan = {
    val refs = refRe.findAllMatchIn(raw).map(m => refSpec(m.group(1))).toSeq.distinct
    val sources = sourceRe.findAllMatchIn(raw).map(m => (m.group(1), m.group(2))).toSeq.distinct
    val config = configRe.findFirstMatchIn(raw)
      .map(m => parseKwargs(m.group(1)))
      .getOrElse(Map.empty[String, Any])
    val vars = varRe.findAllMatchIn(raw).map(_.group(1)).toSeq.distinct
    Scan(refs, sources, config, vars)
  }

  /** Parse `key=value, key2='v2', key3=['a','b']` kwargs (python-ish). */
  def parseKwargs(s: String): Map[String, Any] = {
    splitArgs(s).flatMap { kv =>
      val eq = kv.indexOf('=')
      if (eq < 0) None
      else {
        val k = kv.take(eq).trim
        val v = kv.drop(eq + 1).trim
        Some(k -> pyScalar(v))
      }
    }.toMap
  }

  private def pyScalar(v: String): Any = v match {
    case _ if v.startsWith("[") && v.endsWith("]") =>
      val inner = v.substring(1, v.length - 1).trim
      if (inner.isEmpty) Nil else splitArgs(inner).map(x => pyScalar(x.trim))
    case "True" | "true" => true
    case "False" | "false" => false
    case "None" | "null" => null
    case _ if (v.startsWith("'") && v.endsWith("'")) || (v.startsWith("\"") && v.endsWith("\"")) =>
      v.substring(1, v.length - 1)
    case _ =>
      try v.toLong.asInstanceOf[Any]
      catch { case _: NumberFormatException =>
        try v.toDouble.asInstanceOf[Any]
        catch { case _: NumberFormatException => v }
      }
  }

  /** Split on top-level commas (not inside quotes/brackets/parens) —
    * shared with the macro expander's call-argument parsing.
    */
  def topLevelSplit(s: String): List[String] = splitArgs(s)

  /** Split on top-level commas (not inside quotes/brackets/parens). */
  private def splitArgs(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inS = false; var inD = false
    val cur = new StringBuilder
    for (c <- s) {
      if (c == '\'' && !inD) inS = !inS
      if (c == '"' && !inS) inD = !inD
      if (!inS && !inD) {
        if (c == '[' || c == '(' || c == '{') depth += 1
        if (c == ']' || c == ')' || c == '}') depth -= 1
      }
      if (c == ',' && depth == 0 && !inS && !inD) { out += cur.toString.trim; cur.clear() }
      else cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toList
  }

  /** The one supported template conditional: `{% if is_incremental() %}
    * ... [{% else %} ...] {% endif %}` — THE dbt incremental idiom
    * (filter new rows against `{{ this }}`). Kept if the model's target
    * already exists and this isn't a full refresh; else branch (or
    * nothing) otherwise.
    */
  def renderIncrementalBlocks(raw: String, isIncremental: Boolean): String =
    incrementalBlockRe.replaceAllIn(raw, m => Regex.quoteReplacement(
      if (isIncremental) m.group(1)
      else Option(m.group(2)).getOrElse("")))

  /** Render the template to executable SQL: substitute refs/sources with
    * resolved relation names, vars with project vars, strip config().
    * (Reference: Compiler.compile_node, compilation.py:541 — ours swaps
    * Jinja rendering for direct substitution.)
    */
  def render(
      raw: String,
      resolveRef: String => String,
      resolveSource: (String, String) => String,
      vars: Map[String, String] = Map.empty,
      thisRelation: Option[String] = None,
      isIncremental: Boolean = false,
      /** Run-context values substituted for bare `{{ name }}` uses —
        * the reference's run_started_at / invocation_id audit-column
        * idiom (base.py:590/:618).
        */
      context: Map[String, String] = Map.empty,
      /** env_var() source — injectable for tests; sys.env in production. */
      env: Map[String, String] = sys.env): String = {
    var out = configRe.replaceAllIn(renderIncrementalBlocks(raw, isIncremental), "")
    out = refRe.replaceAllIn(out, m => Regex.quoteReplacement(resolveRef(refSpec(m.group(1)))))
    out = sourceRe.replaceAllIn(out,
      m => Regex.quoteReplacement(resolveSource(m.group(1), m.group(2))))
    out = varRe.replaceAllIn(out, { m =>
      val name = m.group(1)
      val default = Option(m.group(2)).map(d => pyScalar(d.trim)).map(String.valueOf)
      Regex.quoteReplacement(
        vars.get(name).orElse(default).getOrElse(
          throw new IllegalArgumentException(s"undefined var: $name")))
    })
    // env_var('NAME'[, default]) (reference base.py:304); names with the
    // secret prefix are for profile rendering only and must never land
    // in compiled SQL (reference SECRET_ENV_PREFIX, context/secret.py:15)
    out = envVarRe.replaceAllIn(out, { m =>
      val name = m.group(1)
      if (name.startsWith("DBT_ENV_SECRET_"))
        throw new IllegalArgumentException(
          s"secret env var $name may not be used in a model template")
      val default = Option(m.group(2)).map(d => String.valueOf(pyScalar(d.trim)))
      Regex.quoteReplacement(
        env.get(name).orElse(default).getOrElse(
          throw new IllegalArgumentException(s"env_var required but not provided: $name")))
    })
    out = thisRe.replaceAllIn(out,
      Regex.quoteReplacement(thisRelation.getOrElse("__this__")))
    substitute(out, context).trim
  }

  /** Replace every bare `{{ name }}` use (any spacing inside the braces)
    * with its value in `context`.
    */
  def substitute(text: String, context: Map[String, String]): String =
    context.foldLeft(text) { case (out, (k, v)) =>
      out.replaceAll(raw"\{\{\s*" + java.util.regex.Pattern.quote(k) + raw"\s*\}\}",
        Regex.quoteReplacement(v))
    }
}
