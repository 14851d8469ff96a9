package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Python-model execution bridge (reference parser
  * core/dbt/parser/models.py:31-173 + submit_python_job,
  * providers.py:1513).
  *
  * The parser ingests `.py` files under `models/` statically — `dbt.ref` /
  * `dbt.source` / `dbt.config` calls land in the manifest and DAG
  * exactly like SQL models. Execution dispatches through this registry:
  * on a real cluster the registered function is the job-submission seam
  * (e.g. hand the .py source to a PySpark batch endpoint and read the
  * result back); in-process there is no Python runtime, so deployments
  * register a typed JVM implementation per model instead. The inputs
  * map carries one DataFrame per `dbt.ref`/`dbt.source` the model
  * declared, keyed by ref spec / `source.table` — the same surface
  * `dbt.ref()` returns inside a Python model body.
  */
object PythonModels {
  type Impl = (SparkSession, Map[String, DataFrame]) => DataFrame

  private val impls = scala.collection.concurrent.TrieMap[String, Impl]()

  def register(name: String)(fn: Impl): Unit = impls(name) = fn
  def unregister(name: String): Unit = impls.remove(name)
  def get(name: String): Option[Impl] = impls.get(name)
}

/** Operator-library surface for models: a python model configured with
  * `graft_op="<name>"` materializes the named library operator over its
  * DECLARED inputs — no per-project JVM registration, no subprocess.
  * This is how a dbt-style project materializes operators whose logic
  * lives in native code (k-means training, codegen'd expressions)
  * rather than expressible SQL: the model file documents the inputs
  * and config, the library supplies the plan.
  */
object GraftOps {
  /** Resolve an operator name to a model implementation. The single
    * declared source/ref is the operator's input table (operators that
    * need several take them in declaration order). `modelId` keys any
    * per-model memoization — two drift models over different sources
    * must never share trained centroids — and the input's file listing
    * stamps it, so a new input version retrains.
    */
  def impl(op: String, modelId: String): Option[PythonModels.Impl] = op match {
    case "sim_index_drift" => Some { (s, inputs) =>
      val emb = one(op, inputs)
      graft.operators.SimilarityOps.simIndexDriftOf(s,
        graft.operators.SimilarityOps.quantizedOf(emb), s"drift@graft_op:$modelId",
        graft.sources.Tables.planFingerprint(emb))
    }
    case _ => None
  }

  private def one(op: String, inputs: Map[String, DataFrame]): DataFrame = {
    require(inputs.size == 1,
      s"graft_op $op expects exactly one declared input, got ${inputs.keys.mkString(", ")}")
    inputs.values.head
  }
}

/** Local `python3` executor for python models configured with
  * `submission_method="subprocess"` — the concrete stand-in for the
  * reference's job submission (`submit_python_job`, providers.py:1513,
  * whose dataproc/databricks methods ship the .py source to external
  * compute and read the result relation back).
  *
  * Protocol (stdlib-only on the Python side — no pyspark/pandas
  * dependency): inputs land as JSON-lines directories, a generated
  * shim exposes `dbt.ref()/source()/config()` over them as lists of
  * dict rows, the model's returned rows come back as JSON lines and
  * re-enter Spark via `spark.read.json`. Deliberately driver-scale:
  * the seam exists to run real Python end-to-end; a 100 TB python
  * model belongs on cluster compute behind the same interface (the
  * registry in [[PythonModels]] is that hook).
  */
object PythonSubprocess {
  import java.nio.file.{Files, Path}

  def available: Boolean =
    try {
      val p = new ProcessBuilder("python3", "--version")
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  /** The Python side of the protocol. Not an interpolated string — it
    * is Python, not Scala.
    */
  private val shim: String =
    """import glob, importlib.util, json, os, sys
      |
      |job = json.load(open(sys.argv[1]))
      |
      |class Relation:
      |    def __init__(self, rows):
      |        self.rows = rows
      |    def __iter__(self):
      |        return iter(self.rows)
      |    def __len__(self):
      |        return len(self.rows)
      |
      |def _load(d):
      |    rows = []
      |    for f in sorted(glob.glob(os.path.join(d, "part-*"))):
      |        if f.endswith(".crc"):
      |            continue
      |        with open(f) as fh:
      |            for line in fh:
      |                line = line.strip()
      |                if line:
      |                    rows.append(json.loads(line))
      |    return Relation(rows)
      |
      |inputs = {k: _load(d) for k, d in job["inputs"].items()}
      |
      |class Dbt:
      |    def config(self, *a, **kw):
      |        pass
      |    def ref(self, *parts, **kw):
      |        for key in ("/".join(parts), parts[-1]):
      |            if key in inputs:
      |                return inputs[key]
      |        raise KeyError("ref not in declared inputs: " + "/".join(parts))
      |    def source(self, s, t):
      |        return inputs[s + "." + t]
      |
      |spec = importlib.util.spec_from_file_location("graft_user_model", job["model_path"])
      |mod = importlib.util.module_from_spec(spec)
      |spec.loader.exec_module(mod)
      |result = mod.model(Dbt(), None)
      |rows = result.rows if isinstance(result, Relation) else list(result)
      |with open(job["output"], "w") as out:
      |    for r in rows:
      |        if not isinstance(r, dict):
      |            raise TypeError("model must return rows as dicts, got %r" % (r,))
      |        out.write(json.dumps(r) + "\n")
      |""".stripMargin

  def run(
      spark: SparkSession,
      modelName: String,
      modelSource: String,
      inputs: Map[String, DataFrame]): DataFrame = {
    val work: Path = Files.createTempDirectory(s"graft_py_$modelName")
    val inputDirs: Map[String, String] = inputs.map { case (k, df) =>
      val d = work.resolve("in_" + k.replaceAll("\\W", "_")).toString
      df.write.json(d)
      k -> d
    }
    val modelPath = work.resolve("model_src.py")
    Files.writeString(modelPath, modelSource)
    val outPath = work.resolve("out.jsonl")
    val jobPath = work.resolve("job.json")
    Files.writeString(jobPath, graft.parser.ContextFuncs.toJson(Map(
      "inputs" -> inputDirs,
      "model_path" -> modelPath.toString,
      "output" -> outPath.toString)))
    val shimPath = work.resolve("graft_runner.py")
    Files.writeString(shimPath, shim)
    val proc = new ProcessBuilder("python3", shimPath.toString, jobPath.toString)
      .redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val code = proc.waitFor()
    if (code != 0)
      throw new IllegalStateException(
        s"python model $modelName: subprocess exited $code\n${log.takeRight(2000)}")
    spark.read.json(outPath.toString)
  }
}
