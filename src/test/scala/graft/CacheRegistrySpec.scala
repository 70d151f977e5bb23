package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Cache lifecycle invariants (round-4 review: operator persists accumulated
  * for the session's lifetime): the registry tracks every operator persist
  * and [[CacheRegistry.release]] returns executor storage to zero. */
class CacheRegistrySpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("persist registers the dataset; release unpersists and clears") {
    CacheRegistry.release()
    val df = docs.select(col("doc_id"))
    val tracked = CacheRegistry.persist(df)
    assert(CacheRegistry.trackedCount == 1)
    assert(tracked.storageLevel.useMemory, "persist must set a storage level")
    CacheRegistry.release()
    assert(CacheRegistry.trackedCount == 0)
    assert(df.storageLevel.toString.contains("Serialized") == false &&
      !df.storageLevel.useMemory && !df.storageLevel.useDisk,
      "release must unpersist the tracked dataset")
  }

  test("shingle-family operators register their shared subtrees") {
    CacheRegistry.release()
    Dedup.ngramJaccardPairs(docs, 0.5).count()
    // shingledDocs + shinglePostings at minimum
    assert(CacheRegistry.trackedCount >= 2,
      s"expected the shingle subtrees registered, got ${CacheRegistry.trackedCount}")
    CacheRegistry.release()
    assert(CacheRegistry.trackedCount == 0)
  }

  test("orderedQueries is a permutation of queries with contiguous families") {
    val ordered = SparkEntry.orderedQueries
    assert(ordered.map(_.name).toSet == SparkEntry.queries.keySet &&
      ordered.size == SparkEntry.queries.size,
      "family ordering must run every declared query exactly once")
    // every family's members are adjacent (one release point per family)
    val familyRuns = ordered.map(_.family)
      .foldLeft(List.empty[Option[String]]) {
        case (acc, f) if acc.headOption.contains(f) => acc
        case (acc, f) => f :: acc
      }
    val families = familyRuns.flatten
    assert(families.distinct.size == families.size,
      s"a cache family runs in non-contiguous blocks: $familyRuns")
  }

  test("release is an idempotent no-op when nothing is registered") {
    CacheRegistry.release()
    CacheRegistry.release()
    assert(CacheRegistry.trackedCount == 0)
  }

  test("results stay correct when a released subtree is re-evaluated") {
    CacheRegistry.release()
    val before = Dedup.ngramJaccardPairs(docs, 0.5).count()
    CacheRegistry.release()
    // the returned (lazy) plan recomputes the released subtree transparently
    val after = Dedup.ngramJaccardPairs(docs, 0.5).count()
    CacheRegistry.release()
    assert(before == after)
  }
}
