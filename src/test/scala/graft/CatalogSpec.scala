package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog

/** The query catalog names each entry once: `byName`,
  * `SparkEntry.queries` and the oracle map all key by name, so a second
  * entry under a taken name would be silently dropped from all three.
  */
class CatalogSpec extends AnyFunSuite {

  test("Catalog.all names every entry once") {
    val names = Catalog.all.map(_.name)
    val dup = names.diff(names.distinct).distinct
    assert(dup.isEmpty, s"names held by more than one entry: $dup")
    assert(Catalog.byName.size == Catalog.all.size)
  }
}
