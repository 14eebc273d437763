package graft

/** The registry's clear list must cover every registered build: a build
  * whose cache `clearAll` misses keeps its persisted blocks after the
  * clear, and a later measuring pass times a cache read.
  *
  * The test session is shared, so the spec builds over a private copy of
  * sf0.001 (no other suite can have cached an equal plan) and compares
  * persisted-RDD ids, not counts (the ContextCleaner unpersists other
  * suites' garbage RDDs at any GC). */
class SharedArtifactsSpec extends SparkSuite {

  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-shared")
    new java.io.File(sf0001).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName))
    }
    dir.toString
  }

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clearAll releases everything the registered builds persist") {
    SharedArtifacts.clearAll() // start from no cached artifact
    val before = persisted()
    def buildAll(): Set[Int] =
      SharedArtifacts.builds.foldLeft(Set.empty[Int]) { case (ids, (name, build)) =>
        val prior = persisted()
        build(spark, sfDir)
        val added = persisted() -- prior
        assert(added.nonEmpty, s"$name persisted nothing")
        ids ++ added
      }
    val first = buildAll()
    SharedArtifacts.clearAll()
    assert((persisted() & first).isEmpty,
      "a registered build's cache survived clearAll")
    // the caches rebuild after a clear, not serve freed blocks
    val second = buildAll()
    SharedArtifacts.clearAll()
    assert((persisted() & second).isEmpty)
    assert(persisted().subsetOf(before))
  }
}
