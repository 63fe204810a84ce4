package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers
import com.fasterxml.jackson.databind.ObjectMapper

/** The bench instrument's incremental artifact assembler (r16 verdict
  * #1: the driver's run died rc=124 with `parsed: null` because the
  * artifact was written once at the very end). Every intermediate
  * write must be a COMPLETE parseable JSON line carrying everything
  * finished so far, the interrupt flush must stamp itself, and the
  * budget-governor's shed decisions must be in the artifact (the
  * no-silent-caps rule). No SparkSession needed — this is pure
  * assembly. */
class BenchArtifactSpec extends AnyFunSpec with Matchers {

  private val mapper = new ObjectMapper()

  private def newArtifact(out: Option[String] = None,
                          dyn: () => Seq[(String, String)] = () => Seq.empty) =
    new Bench.Artifact(out, dyn)

  it("an empty artifact already renders as complete parseable JSON with the tier marker") {
    val a = newArtifact()
    val node = mapper.readTree(a.render(interrupted = false))
    node.get("metric").asText() shouldBe "total"
    node.get("value").asDouble() shouldBe 0.0
    node.get("completed_tiers").isArray shouldBe true
    node.get("completed_tiers").size() shouldBe 0
    node.has("interrupted") shouldBe false
  }

  it("every tierDone write is a complete parseable artifact containing all prior tiers") {
    import java.nio.file.{Files, Paths}
    val f = Files.createTempFile("graft-art-", ".json").toString
    val a = newArtifact(Some(f))
    a.set("queries", "{\"q1\":1.500}")
    a.set("queries_min", "{\"q1\":1.400}")
    a.set("value", "1.500")
    a.tierDone("grid_pass1")
    val afterPass1 = mapper.readTree(Files.readString(Paths.get(f)))
    afterPass1.get("queries").get("q1").asDouble() shouldBe 1.5
    afterPass1.get("completed_tiers").get(0).asText() shouldBe "grid_pass1"
    a.set("scaling", "{\"q1\":13000.0}")
    a.tierDone("scaling")
    val afterScaling = mapper.readTree(Files.readString(Paths.get(f)))
    afterScaling.get("completed_tiers").size() shouldBe 2
    afterScaling.get("completed_tiers").get(1).asText() shouldBe "scaling"
    afterScaling.get("scaling").get("q1").asDouble() shouldBe 13000.0
    // earlier fragments survive later writes
    afterScaling.get("queries_min").get("q1").asDouble() shouldBe 1.4
  }

  it("the interrupt flush stamps the partial artifact and the truncation path is parseable") {
    // simulates exactly what the SIGTERM shutdown hook does mid-run: a
    // write(interrupted = true) over whatever tiers completed so far
    import java.nio.file.{Files, Paths}
    val f = Files.createTempFile("graft-art-int-", ".json").toString
    val a = newArtifact(Some(f))
    a.set("queries", "{\"q1\":1.000,\"q2\":2.000}")
    a.set("value", "3.000")
    a.tierDone("grid_pass1")
    a.tierDone("grid")
    a.write(interrupted = true)
    val node = mapper.readTree(Files.readString(Paths.get(f)))
    node.get("interrupted").asBoolean() shouldBe true
    node.get("completed_tiers").size() shouldBe 2
    node.get("queries").get("q2").asDouble() shouldBe 2.0
    // a finished run never carries the stamp
    a.write(interrupted = false)
    mapper.readTree(Files.readString(Paths.get(f))).has("interrupted") shouldBe false
  }

  it("tierDone is idempotent: a periodic mid-pass flush re-announcing its pass never grows the marker list") {
    val a = newArtifact()
    a.tierDone("grid_pass1_partial")
    a.tierDone("grid_pass1_partial")
    a.tierDone("grid_pass1")
    val node = mapper.readTree(a.render(interrupted = false))
    node.get("completed_tiers").size() shouldBe 2
    node.get("completed_tiers").get(0).asText() shouldBe "grid_pass1_partial"
    node.get("completed_tiers").get(1).asText() shouldBe "grid_pass1"
  }

  it("shed decisions are recorded in-artifact in order (no silent caps)") {
    val a = newArtifact()
    a.shed("heavy_passes:2")
    a.shed("isolated_tier")
    val node = mapper.readTree(a.render(interrupted = false))
    node.get("shed").get(0).asText() shouldBe "heavy_passes:2"
    node.get("shed").get(1).asText() shouldBe "isolated_tier"
    a.shedReasons shouldBe Seq("heavy_passes:2", "isolated_tier")
  }

  it("dynamic fields refresh on every write and key order is canonical") {
    var tick = 0
    val a = newArtifact(dyn = () => { tick += 1; Seq("wall_sec" -> s"$tick.000") })
    mapper.readTree(a.render(false)).get("wall_sec").asDouble() shouldBe 1.0
    mapper.readTree(a.render(false)).get("wall_sec").asDouble() shouldBe 2.0
    // key order matches the pre-r17 artifact layout (byte-comparable
    // across rounds apart from the new trailing fields)
    a.set("queries", "{}")
    a.set("sf", "\"/tmp/x\"")
    a.set("jvm", "{\"cpus\":4}")
    val line = a.render(false)
    val iQ = line.indexOf("\"queries\"")
    val iJ = line.indexOf("\"jvm\"")
    val iS = line.indexOf("\"sf\"")
    val iT = line.indexOf("\"completed_tiers\"")
    (iQ < iJ && iJ < iS && iS < iT) shouldBe true
  }

  it("the summary line of a full-size artifact parses and stays within 1,900 characters") {
    val f = java.nio.file.Files.createTempFile("graft-art-", ".json").toString
    val a = newArtifact(Some(f), () => Seq("wall_sec" -> "2512.345"))
    // a board-sized artifact: 330 query rows in several maps, like a full run
    val rows = (1 to 330).map(i => "\"q_query_name_" + i + "\":" + (i * 0.123)).mkString("{", ",", "}")
    Seq("queries", "queries_min", "queries_isolated", "canary").foreach(a.set(_, rows))
    a.set("value", "301.250")
    a.set("sf", "\"/data/sf0.1\"")
    a.set("failures", "2")
    a.set("errors", "{\"q_a\":\"boom\",\"q_b\":\"bang\"}")
    a.render(false).length should be > 20000
    val line = a.summary(cpus = 4)
    line.length should be <= 1900
    line should not include "\n"
    val node = mapper.readTree(line)
    node.get("metric").asText() shouldBe "total"
    node.get("value").asDouble() shouldBe 301.25
    node.get("unit").asText() shouldBe "sec"
    node.get("sf").asText() shouldBe "/data/sf0.1"
    node.get("cpus").asInt() shouldBe 4
    node.get("failures").asInt() shouldBe 2
    node.get("wall_sec").asDouble() shouldBe 2512.345
    node.get("artifact").asText() shouldBe java.nio.file.Paths.get(f).toAbsolutePath.toString
    newArtifact().summary(cpus = 8).contains("\"artifact\":null") shouldBe true
  }
}
