package perfbench

import graft.pipeline.ConvoyPipeline

/** The traced stage-by-stage glue ([[Stages]]) must produce exactly what
  * `ConvoyPipeline.run` produces, and both must agree with the corpus
  * generator's model. */
class StagesSpec extends BenchSuite {

  for (workload <- Seq("forest", "viral")) test(s"traced stages equal run + write on $workload") {
    withTempDir { dir =>
      val m = Corpus.generate(workload, seed = 7, scale = 3000, s"$dir/corpus")
      ConvoyPipeline.write(
        ConvoyPipeline.run(spark, m.originalPaths, m.expansionPaths), s"$dir/run")
      val tracer = new Tracer(spark)
      ConvoyPipeline.write(
        Stages.run(spark, m.originalPaths, m.expansionPaths, tracer), s"$dir/traced")
      val spans = tracer.close()
      assert(Set("ingest", "closure", "treestats", "mart").subsetOf(spans.keySet))

      val viaRun = Check.hashes(spark, s"$dir/run")
      assert(Check.hashes(spark, s"$dir/traced") == viaRun)
      val rows = Check.counts(spark, s"$dir/run")
      assert(Check.againstModel(spark, s"$dir/run", m, Check.expected(spark, m), rows).isEmpty)
    }
  }
}
