package osmbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** JSON text of (ordered) maps, sequences and scalars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(ListMap(kv: _*))
}
