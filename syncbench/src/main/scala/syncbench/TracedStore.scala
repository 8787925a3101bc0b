package syncbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}

import org.apache.spark.sql.SparkSession

import graft.catalog.PipeSpec
import graft.storage.InstanceStore

/** Wraps an [[InstanceStore]] so every read-side or write-side call runs
  * inside a span. A dynamic proxy forwards every method, including ones the
  * trait may gain later, so the wrapper never changes which implementation
  * runs; calls outside the two sets pass through untimed. */
object TracedStore {
  val ReadCalls = Set("exists", "read", "schemaDdl", "readRange", "readIn",
    "rowCount", "syncTime", "syncTimeEpoch", "readMaxId")
  val WriteCalls = Set("create", "overwrite", "append", "upsert", "applyDelta",
    "clear", "clearStructured", "deduplicate", "drop", "writeMaxId",
    "compact", "vacuum")

  /** @param layer  span name prefix: "storage" gives `storage.read` and
    *               `storage.write`; any other value names every span
    * @param sticky leave the span's job tag on the thread after the call,
    *               for lazily evaluated results (see [[Tracer]]) */
  def wrap(inner: InstanceStore, tracer: Tracer, layer: String,
           sticky: Boolean): InstanceStore = {
    val handler = new InvocationHandler {
      def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        def call(): AnyRef =
          try m.invoke(inner, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
        val name = m.getName
        val side =
          if (ReadCalls(name)) Some("read")
          else if (WriteCalls(name)) Some("write")
          else None
        side match {
          case Some(s) =>
            val spanName = if (layer == "storage") s"storage.$s" else layer
            tracer.span(spanName, name, sticky)(call())
          case None => call()
        }
      }
    }
    Proxy.newProxyInstance(classOf[InstanceStore].getClassLoader,
      Array(classOf[InstanceStore]), handler).asInstanceOf[InstanceStore]
  }

  /** A store factory whose stores are wrapped when tracing is on. */
  def factory(base: (SparkSession, String, PipeSpec) => InstanceStore,
              tracer: Tracer, layer: String, sticky: Boolean = false)
      : (SparkSession, String, PipeSpec) => InstanceStore =
    (s, r, sp) => {
      val st = base(s, r, sp)
      if (tracer.enabled) wrap(st, tracer, layer, sticky) else st
    }
}
