package graft

import graft.operators.{ScalarQuant, Sq16Store}

/** Every on-disk record type the strict JSON codec reads, pinned to the
  * exact bytes the writers produced before the codec existed (regex
  * readers, hand-rolled escapers): each file still loads to the same
  * value, and today's writer reproduces it byte for byte — no on-disk
  * format changed, so old snapshots and configs load unchanged. */
class RecordFormatSpec extends SparkSpec {

  private def pinned[A](text: String, value: A)(render: A => String)(
      parse: (String, String) => A): Unit = {
    assert(parse("fixture", text) == value)
    assert(render(value) == text)
  }

  test("config-plane records: tenant, users, cache policy, declared index, registry") {
    pinned("""{"maxQps": 50, "maxConcurrentRequests": 8, "cacheMemoryMb": 64, "dailyRequestLimit": 100000, "priority": 2, "monthlyBudget": 1.0E7, "apiKeyHash": "9f86d081884c7d659a2feaa0c55ad015a3bf4f1b2b0b822cd15d6c15b0f00a08"}""",
      (TenantQuota(maxQps = 50, priority = 2, monthlyBudget = 1.0e7),
        "9f86d081884c7d659a2feaa0c55ad015a3bf4f1b2b0b822cd15d6c15b0f00a08"))(
      (Management.renderTenant _).tupled)(Management.parseTenant)
    pinned("""{"maxQps": 100, "maxConcurrentRequests": 8, "cacheMemoryMb": 64, "dailyRequestLimit": 100000, "priority": 1, "monthlyBudget": 100.0, "apiKeyHash": ""}""",
      (TenantQuota(), ""))((Management.renderTenant _).tupled)(Management.parseTenant)
    pinned("""{"alice": "admin", "bob": "reader"}""",
      Map("alice" -> "admin", "bob" -> "reader"))(Management.renderUsers)(
      Management.parseUsers)
    pinned("""{"enableCache": false, "defaultTtlSeconds": 30}""",
      CachePolicy(enableCache = false, defaultTtlSeconds = 30))(
      Management.renderPolicy)(Management.parsePolicy)
    pinned("""{"dim": 3, "metric": "COSINE", "algo": "IVF_FLAT", "nlist": 2, "pqM": 4, "pqK": 16}""",
      DeclaredIndex(3, "COSINE", "IVF_FLAT", 2, 4, 16))(Management.renderIndex)(
      Management.parseIndex)
    pinned("""{"latest": 2, "active": 2, "previous": 1}""", (2L, 2L, 1L))(
      Management.renderRegistry)(Management.parseRegistry)
  }

  test("engine and operator records: manifest, sq16 meta, ScalarQuant params, CONTRACT.json") {
    val eng = new GraftEngine(spark, java.nio.file.Files.createTempDirectory("fmt").toString)
    pinned("""{"epoch": 2, "buildWatermark": 100, "algo": "IVF_FLAT", "nVectors": 20, "version": 1, "metric": "COSINE", "headDirty": 0}""",
      eng.Manifest(2L, 100L, "IVF_FLAT", 20L, 1L, "COSINE", 0))(_.render)(eng.Manifest.parse)

    val metaText = """{"version": 1, "dim": 6, "mn_bits": -1079613850, "mx_bits": 1076677837, "seg_rows": [30]}"""
    val meta = Sq16Store.parseMeta("fixture", metaText)
    assert(meta.dim == 6 && meta.mn == -1.3f && meta.mx == 2.7f && meta.segRows.sameElements(Seq(30)))
    assert(Sq16Store.renderMeta(meta) == metaText)

    pinned("""{"min": -1.25, "max": 3.5}""", ScalarQuant.Params(-1.25f, 3.5f))(
      ScalarQuant.renderParams)(ScalarQuant.parseParams)
    pinned("""{"min": 1.0E-7, "max": 3.4028235E38}""",
      ScalarQuant.Params(1.0e-7f, Float.MaxValue))(ScalarQuant.renderParams)(
      ScalarQuant.parseParams)
  }
}
