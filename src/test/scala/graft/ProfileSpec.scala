package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

class ProfileSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  test("point: the summary parses with work > 0 and each sample's stages carry its job description") {
    val out = new java.io.ByteArrayOutputStream()
    val line = Console.withOut(out)(Profile.point(spark, "rowchecks", 20000L, 2, 4))
    val summary = mapper.readTree(line)
    assert(summary.get("metric").asText == "scale_point" && summary.get("work").asLong > 0, line)
    assert(summary.get("result").asLong > 0, "rowchecks injects violations at every size")
    val lines: Seq[JsonNode] = out.toString("UTF-8").split("\n").toSeq.filter(_.startsWith("{")).map(mapper.readTree)
    val stages = lines.filter(_.has("stage"))
    val fields = Seq("stage", "job", "tasks", "wall_ms", "run_ms", "cpu_ms", "gc_ms", "sh_read_mb",
      "fetch_wait_ms", "sh_write_mb", "sh_write_ms", "spill_mb", "task_max_ms", "task_p50_ms", "straggler", "name")
    assert(stages.nonEmpty && stages.forall(s => fields.forall(s.has)), s"stage lines: $stages")
    // task skew: the longest task bounds the median, and the straggler
    // ratio is their quotient (a median under 1 ms counts as 1 ms)
    for (s <- stages) {
      val (max, p50, ratio) = (s.get("task_max_ms").asLong, s.get("task_p50_ms").asLong, s.get("straggler").asDouble)
      assert(max >= p50 && p50 >= 0, s"task times: $s")
      assert(math.abs(ratio - max.toDouble / math.max(p50, 1L)) < 0.006, s"straggler ratio: $s")
    }
    assert(stages.exists(_.get("task_max_ms").asLong > 0), "some task takes a millisecond")
    for (i <- 1 to 2) {
      val label = s"rowchecks/point/$i"
      assert(stages.exists(_.get("job").asText == label), s"no stage line for $label")
      val span = lines.find(l => l.has("span") && l.get("span").asText == label)
      assert(span.exists(s => s.get("jobs").asLong > 0 && s.get("stages").asLong > 0), s"span of $label: $span")
    }
    assert(stages.forall(s => Seq("rowchecks/point/1", "rowchecks/point/2").contains(s.get("job").asText)),
      "only the timed samples are reported")
  }

  test("an unknown mode fails and names the known modes") {
    val e = intercept[IllegalArgumentException](Profile.point(spark, "nosuchmode", 10L, 1, 1))
    Seq("nosuchmode", "metadata", "text", "exactincr", "image").foreach(m => assert(e.getMessage.contains(m), e.getMessage))
  }
}
