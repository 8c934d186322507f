package graft

import graft.tools.LoadRand

/** The loadrand stress tool drives the FULL wire stack (WireService
  * middleware → msgpack codec → v1 envelopes → store → index
  * maintenance); the spec pins its observable contract.
  */
class LoadRandSpec extends SparkSuite {

  test("loadrand: seeded msgpack v1 ingest lands every point, searches serve") {
    val root = Fs.tempDir("graft_loadrand_t_").toString
    val r = LoadRand.run(spark, root,
      nPoints = 300, dim = 8, batch = 128, searchQueries = 3)
    assert(r.inserted == 300L, r)
    assert(r.searched == 30, r) // 3 queries x limit 10, corpus >> 10
    assert(r.seconds > 0 && r.pointsPerSec > 0)
    // deterministic: a second run on a fresh root loads the identical
    // vectors (seeded RNG), so the same nearest-neighbor sets serve
    val root2 = Fs.tempDir("graft_loadrand_t2_").toString
    val r2 = LoadRand.run(spark, root2,
      nPoints = 300, dim = 8, batch = 128, searchQueries = 3)
    assert(r2.inserted == 300L && r2.searched == 30)
  }
}
