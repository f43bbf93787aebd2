package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's raw output and for reading the sinks' bulk files
  * (Jackson and its Scala module ship with Spark). */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the millisecond times Spark's listener
  * events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
