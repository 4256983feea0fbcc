package perfbench

import graft.pipeline.ConvoyPipeline
import graft.tools.PageCorpus

/** The benchmark's pipeline path (`ConvoyPipeline.run` + `write`, then
  * [[Check.hashes]] over the written tables) reproduces the engine's
  * committed golden hashes over the `PageCorpus` corpus. */
class GoldenSpec extends BenchSuite {

  test("run + write over PageCorpus matches golden_pipeline_hashes.txt") {
    withTempDir { dir =>
      val (orig, exp) = PageCorpus.write(s"$dir/corpus")
      ConvoyPipeline.write(ConvoyPipeline.run(spark, orig, exp), s"$dir/out")
      val golden = scala.io.Source.fromResource("golden_pipeline_hashes.txt")
        .getLines().filter(_.nonEmpty).map { line =>
          val Array(name, n, h) = line.split(",")
          name -> ((n.toLong, h.toLong))
        }.toMap
      assert(golden.keySet == Check.Outputs.toSet)
      assert(Check.hashes(spark, s"$dir/out") == golden)
    }
  }
}
