package graft.plans

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  test("descriptor rejects wrong arity at build time") {
    val (_, _, builder) = GraftExtensions.zInterleaveDescriptor
    intercept[IllegalArgumentException] {
      builder(Seq.empty)
    }
  }
}
