package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** The head of a store: one small file, `<root>/_LATEST`, published
  * atomically ([[Fs.publishString]]) and holding, as JSON, the store's
  * version, its last applied streaming batch id and the schema of every
  * version a reader may still resolve. [[KeyedTable]] and every [[Layers]]
  * store keep exactly this head, so a store has one pointer format, one
  * replay guard ([[guarded]]) and one schema: readers scan with
  * `spark.read.schema(s)` and never infer.
  *
  * Writers of one store serialize on a per-store lock ([[locked]]), keyed by
  * the root's qualified path so every spelling of one directory (`file:/x`,
  * `/x`) shares it. A writer resolves the head, reads, writes and publishes
  * inside one locked section, so no two writers fold against the same
  * version. Co-located stores nest their locks in one order: a table's,
  * then a layer store's under its directory.
  *
  * Single-writer-process contract: the lock serializes writers inside one
  * JVM only. Two processes writing one store (two restarted drivers) are
  * not supported, as the reference supports one Flask process. An
  * exclusive-create commit log would not make them safe on the local
  * Hadoop filesystem either: its `create(p, overwrite = false)` is an
  * `exists` check followed by a plain open, and its `rename` replaces the
  * target.
  */
private[graft] object Head {

  /** Version `version`'s schema is `schemas(version)`; the other entries are
    * the retained versions a [[KeyedTable.diff]] may read.
    */
  final case class State(version: Long, applied: Long, schemas: Map[Long, StructType]) {
    def schema: StructType = schemas(version)
  }

  private val mapper = new ObjectMapper()

  private def path(root: String) = root + "/_LATEST"

  /** The store's head; None before its first publish. A head that does not
    * parse fails the call: a store never guesses its state.
    */
  def read(spark: SparkSession, root: String): Option[State] =
    Fs.readString(spark, path(root)).map { content =>
      try {
        val n = mapper.readTree(content)
        val schemas = n.get("schemas").properties().asScala.map(e =>
          e.getKey.toLong -> DataType.fromJson(e.getValue.toString).asInstanceOf[StructType])
        State(n.get("version").asLong(), n.get("applied").asLong(), schemas.toMap)
      } catch {
        case e: Exception => throw new IllegalStateException(s"unreadable head at ${path(root)}", e)
      }
    }

  def publish(spark: SparkSession, root: String, s: State): Unit = {
    val n = mapper.createObjectNode().put("version", s.version).put("applied", s.applied)
    val schemas = n.putObject("schemas")
    s.schemas.foreach { case (v, schema) =>
      schemas.set[JsonNode](v.toString, mapper.readTree(schema.json)) }
    Fs.publishString(spark, path(root), mapper.writeValueAsString(n))
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** `body` under the writer lock of the store at `root`. */
  def locked[T](spark: SparkSession, root: String)(body: => T): T = {
    val (fs, p) = Fs.resolve(spark, root)
    locks.computeIfAbsent(fs.makeQualified(p).toString, _ => new AnyRef).synchronized(body)
  }

  /** The replay guard: under the store's lock, resolve the head once; if
    * `batchId` is already applied (a foreachBatch replay) return false
    * without running `body`, else run `body` with that head and return
    * true. `body` publishes the next head, recording `batchId`.
    */
  def guarded(spark: SparkSession, root: String, batchId: Long)(
      body: Option[State] => Unit): Boolean =
    locked(spark, root) {
      val h = read(spark, root)
      if (h.exists(_.applied >= batchId)) false
      else { body(h); true }
    }
}
