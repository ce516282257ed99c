package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

object Json {
  val mapper = new ObjectMapper()
}
