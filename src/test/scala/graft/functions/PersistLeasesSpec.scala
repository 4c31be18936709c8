package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.TestSpark

/** Pins the [[PersistLeases]] lifetimes (VERDICT r18 #6): session
  * leases drain at `releaseAll()`, and a pipeline wrapped in
  * `scoped { }` drains its OWN leases on `scope.release()` without
  * touching another pipeline's — the contract that lets a long-lived
  * session compose many Curation pipelines without accumulating
  * pinned frames it cannot release.
  */
class PersistLeasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(ids: Range, text: String) =
    ids.map(i => (i.toLong, s"$text $i")).toDF("doc_id", "text")
      .withColumn("t", split(col("text"), " "))

  test("scoped leases drain on their own release; session queue untouched") {
    // quiesce: drain whatever earlier suites left on the session queue
    PersistLeases.releaseAll()
    val sessionBefore = PersistLeases.pending
    var ran = Seq.empty[String]
    val ((), s1) = PersistLeases.scoped {
      PersistLeases.register(() => ran :+= "a1")
      PersistLeases.register(() => ran :+= "a2")
    }
    val ((), s2) = PersistLeases.scoped {
      PersistLeases.register(() => ran :+= "b1")
    }
    // scoped registration never lands on the session queue
    assert(PersistLeases.pending === sessionBefore)
    assert(s1.pending === 2 && s2.pending === 1)
    // a global drain does not steal scoped leases
    PersistLeases.releaseAll()
    assert(ran.isEmpty && s1.pending === 2 && s2.pending === 1)
    // one pipeline's release leaves the other's leases pending
    s1.release()
    assert(ran === Seq("a1", "a2") && s2.pending === 1)
    // release is idempotent
    s1.release()
    assert(ran === Seq("a1", "a2"))
    s2.release()
    assert(ran === Seq("a1", "a2", "b1") && s2.pending === 0)
  }

  test("nesting restores the enclosing scope; unscoped goes to the session queue") {
    PersistLeases.releaseAll()
    val (_, outer) = PersistLeases.scoped {
      PersistLeases.register(() => ())
      val (_, inner) = PersistLeases.scoped {
        PersistLeases.register(() => ())
        PersistLeases.register(() => ())
      }
      assert(inner.pending === 2)
      inner.release()
      // after the inner scope exits, registration lands on the OUTER
      PersistLeases.register(() => ())
    }
    assert(outer.pending === 2)
    outer.release()
    // outside any scope: the session queue takes it
    val before = PersistLeases.pending
    PersistLeases.register(() => ())
    assert(PersistLeases.pending === before + 1)
    PersistLeases.releaseAll()
  }

  test("a thread spawned inside scoped {} inherits the scope (VERDICT r19 #3)") {
    PersistLeases.releaseAll()
    val sessionBefore = PersistLeases.pending
    val (_, s) = PersistLeases.scoped {
      val t = new Thread(() => PersistLeases.register(() => ()))
      t.start()
      t.join()
    }
    assert(PersistLeases.pending === sessionBefore,
      "the spawned thread's lease must not fall through to the session queue")
    assert(s.pending === 1, "the spawned thread's lease must land on the scope")
    s.release()
  }

  test("a pre-existing pool thread registers explicitly on a passed scope") {
    // Threads created BEFORE the scope opened (foreachBatch executors,
    // pooled workers) inherit nothing — the contract is Scope.register.
    import java.util.concurrent.Executors
    val pool = Executors.newSingleThreadExecutor()
    try {
      pool.submit(new Runnable { def run(): Unit = () }).get() // pre-create the thread
      PersistLeases.releaseAll()
      val sessionBefore = PersistLeases.pending
      val (_, s) = PersistLeases.scoped {
        val scope = PersistLeases.currentScope.get
        pool.submit(new Runnable {
          def run(): Unit = scope.register(() => ())
        }).get()
      }
      assert(s.pending === 1 && PersistLeases.pending === sessionBefore)
      s.release()
    } finally pool.shutdown()
  }

  test("a throwing scoped body spills its leases to the session queue (ADVICE r19)") {
    PersistLeases.releaseAll()
    var ran = 0
    val thrown = intercept[RuntimeException] {
      PersistLeases.scoped {
        PersistLeases.register(() => ran += 1)
        PersistLeases.register(() => ran += 1)
        throw new RuntimeException("pipeline construction failed")
      }
    }
    assert(thrown.getMessage === "pipeline construction failed")
    assert(PersistLeases.pending === 2,
      "the dead scope's handles must be recoverable by releaseAll")
    PersistLeases.releaseAll()
    assert(ran === 2, "releaseAll must run the spilled handles")
  }

  test("a lease registered on a released scope diverts to the session queue (ADVICE r20)") {
    PersistLeases.releaseAll()
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val released = new java.util.concurrent.CountDownLatch(1)
    val registered = new java.util.concurrent.CountDownLatch(1)
    // A thread spawned inside scoped{} inherits the Scope and keeps the
    // reference after the body exits; a lease it registers after
    // release() must not land on the drained scope's queue (permanently
    // pinned) — it diverts to the session-global queue, where
    // releaseAll recovers it.
    var late: Thread = null
    val ((), scope) = PersistLeases.scoped {
      late = new Thread(() => {
        released.await()
        PersistLeases.register(() => { ran.incrementAndGet(); () })
        registered.countDown()
      })
      late.start()
    }
    scope.release()
    released.countDown()
    registered.await()
    late.join()
    // plus the explicit-scope variant a pool thread would hit
    scope.register(() => { ran.incrementAndGet(); () })
    assert(scope.pending === 0, "closed scope must hold nothing")
    assert(PersistLeases.pending === 2,
      "late leases must be on the recoverable session queue")
    PersistLeases.releaseAll()
    assert(ran.get === 2, "releaseAll must run the diverted handles")
  }

  test("one Curation pipeline's release frees its cache, not another's") {
    import graft.corpus.Curation
    PersistLeases.releaseAll()
    val docsA = corpus(0 until 40, "alpha beta gamma delta shared words")
    val docsB = corpus(0 until 40, "one two three four five six seven")
    // spanDedup persists its INPUT via PersistLeases.persist — persist()
    // returns the same Dataset, so the input frames' storage levels
    // are the observable
    val (keptA, sA) = PersistLeases.scoped(Curation.spanDedup()(docsA))
    val (keptB, sB) = PersistLeases.scoped(Curation.spanDedup()(docsB))
    assert(keptA.count() >= 0 && keptB.count() >= 0)
    assert(docsA.storageLevel != StorageLevel.NONE,
      "pipeline A's input must be lease-persisted")
    assert(docsB.storageLevel != StorageLevel.NONE,
      "pipeline B's input must be lease-persisted")
    assert(sA.pending === 1 && sB.pending === 1)
    sA.release()
    assert(docsA.storageLevel == StorageLevel.NONE,
      "releasing pipeline A's scope must unpersist ITS input")
    assert(docsB.storageLevel != StorageLevel.NONE,
      "pipeline B's cache must survive pipeline A's release")
    // B still computes correctly after A's drain
    assert(keptB.count() >= 0)
    sB.release()
    assert(docsB.storageLevel == StorageLevel.NONE)
  }
}
