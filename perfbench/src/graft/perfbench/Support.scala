package graft.perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.JsonUtil

import scala.jdk.CollectionConverters._

/** The generator's manifest (perfbench/gen.py) for one run's inputs. */
final class Manifest(val node: JsonNode) {
  def long(k: String): Long = node.get(k).asLong()
  def str(k: String): String = node.get(k).asText()
}

object Manifest {
  def load(dir: String): Manifest =
    new Manifest(new ObjectMapper().readTree(Paths.get(dir, "manifest.json").toFile))

  /** A JSON object of strings as a map. */
  def strings(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
}

/** A group of DuckDB twins that share one set of views (name → parquet
  * path or glob). */
final case class OracleJob(views: Map[String, String], queries: Map[String, String])

/** Client of perfbench/oracle.py, a child process that computes the
  * DuckDB twins once, keeps their results, and compares each Spark result
  * written as parquet with its twin. */
final class Oracle(python: String, script: String, corrupt: Boolean) {
  private val proc = new ProcessBuilder((Seq(python, script) ++ (if (corrupt) Seq("--corrupt") else Nil)): _*)
    .redirectError(ProcessBuilder.Redirect.INHERIT)
    .start()
  private val requests = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream, UTF_8))
  private val answers = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
  private val mapper = new ObjectMapper()
  private var unanswered = 0

  private def send(json: String): Unit = {
    requests.write(json)
    requests.write('\n')
    requests.flush()
  }

  private def receive(): JsonNode = {
    val line = answers.readLine()
    if (line == null) throw new IllegalStateException(s"oracle exited with ${proc.waitFor()}")
    mapper.readTree(line)
  }

  /** Start computing the twins; [[await]] waits for them. */
  def start(jobs: Seq[OracleJob]): Unit = {
    def strMap(m: Map[String, String]) =
      JsonUtil.obj(m.toSeq.sorted.map { case (k, v) => k -> JsonUtil.quote(v) })
    send(jobs.map(j => s"""{"views":${strMap(j.views)},"queries":${strMap(j.queries)}}""")
      .mkString("""{"twins":[""", ",", "]}"))
    unanswered += 1
  }

  def await(): Unit = while (unanswered > 0) { receive(); unanswered -= 1 }

  /** Compare the parquet result under `dir` with the twin `name`; the
    * reason it differs, if it does. */
  def compare(name: String, dir: String): Option[String] = {
    await()
    send(JsonUtil.obj(Seq("compare" -> JsonUtil.quote(name), "path" -> JsonUtil.quote(dir))))
    val a = receive()
    if (a.get("ok").asBoolean()) None else Some(a.get("msg").asText())
  }

  def close(): Unit = {
    requests.close()
    proc.waitFor()
  }
}

object Disk {
  private def walk(root: String): List[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** Bytes of every regular file under `root`. */
  def bytes(root: String): Long =
    walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Parquet data files under `root` (no checksums or markers). */
  def dataFiles(root: String): List[Path] =
    walk(root).filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))

  /** Every `_graft_manifest` under a layout root with its content. */
  def layoutManifests(root: String): Map[String, String] =
    walk(root).filter(_.getFileName.toString == "_graft_manifest")
      .map(p => p.toString -> Files.readString(p)).toMap

  /** (path, size, mtime) of every regular file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] =
    walk(root).filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
}
