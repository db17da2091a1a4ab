package pipebench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonLocaleSpec extends AnyFunSuite {

  test("the harness's JSON parses under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // the default locale really does write decimal commas
      assert(String.format("%.1f", Double.box(1.5)) == "1,5")
      val text = Json(Map("setup_s" -> Seq(1.5, 0.25), "peak_rss_mb" -> 1234.5678,
        "tiny" -> 1.25e-7,
        "units" -> Seq(Map("seconds" -> 3.125, "layers" -> Some(Map("spark.core_util" -> 0.5))))))
      val tree = new ObjectMapper().readTree(text)
      assert(tree.get("setup_s").get(0).asDouble == 1.5)
      assert(tree.get("setup_s").get(1).asDouble == 0.25)
      assert(tree.get("peak_rss_mb").asDouble == 1234.5678)
      assert(tree.get("tiny").asDouble == 1.25e-7)
      assert(tree.get("units").get(0).get("seconds").asDouble == 3.125)
      assert(tree.get("units").get(0).get("layers").get("spark.core_util").asDouble == 0.5)
    } finally Locale.setDefault(saved)
  }
}
