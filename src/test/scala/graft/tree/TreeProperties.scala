package graft.tree

import java.nio.file.Files

import graft.objects.FileLocations
import graft.storage.LocalStorageOps
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the tree kernel (FIXTURES.md §1): random
  * key/value workloads against a TreeMap model, across small orders
  * that force deep split cascades.
  */
object TreeProperties extends Properties("Tree") {

  private val keyGen = Gen.chooseNum(0, 60).map(i => f"key$i%03d")
  private val valGen = Gen.identifier.map(_.take(10))
  private val opGen = Gen.frequency(
    (7, Gen.zip(keyGen, valGen.map(Option(_)))),
    (3, Gen.zip(keyGen, Gen.const(Option.empty[String]))))

  property("insert/update/delete matches TreeMap; survives serialize") =
    forAll(Gen.listOfN(80, opGen), Gen.oneOf(4, 6, 128)) { (ops, order) =>
      val storage = new LocalStorageOps(
        Files.createTempDirectory("graft-prop").toString)
      val root = TreeOps.createEmptyRoot(storage, "def/none.json")
      val model = scala.collection.mutable.TreeMap.empty[String, String]
      ops.foreach {
        case (k, Some(v)) =>
          TreeOps.setValue(storage, root, k, Some(v), order); model(k) = v
        case (k, None) =>
          TreeOps.setValue(storage, root, k, None, order); model.remove(k)
      }
      TreeOps.writeRoot(storage, root, 1L)
      val loaded = TreeOps.loadRoot(storage, FileLocations.rootNodePath(1L))
      val lookupsOk = model.forall { case (k, v) =>
        TreeOps.searchValue(storage, loaded, k).contains(v)
      }
      val traversalOk = TreeOps.traverse(storage, loaded)
        .map(r => r.key -> r.value.get).toSeq == model.toSeq
      lookupsOk && traversalOk
    }

  property("traverseFrom equals the full traversal's strict tail") =
    forAll(Gen.listOfN(80, opGen), Gen.oneOf(4, 6, 128), keyGen) {
      (ops, order, cut) =>
        val storage = new LocalStorageOps(
          Files.createTempDirectory("graft-prop-from").toString)
        val root = TreeOps.createEmptyRoot(storage, "def/none.json")
        ops.foreach { case (k, v) => TreeOps.setValue(storage, root, k, v, order) }
        TreeOps.writeRoot(storage, root, 1L)
        val loaded = TreeOps.loadRoot(storage, FileLocations.rootNodePath(1L))
        val full = TreeOps.traverse(storage, loaded).map(_.key).toSeq
        // cuts at present keys, absent keys, below-all and above-all
        Seq(cut, "", "zzzz", full.headOption.getOrElse("x"))
          .forall { c =>
            TreeOps.traverseFrom(storage, loaded, c).map(_.key).toSeq ==
              full.dropWhile(_ <= c)
          }
    }

  property("floorChildRow equals the materialized floor on mixed nodes") =
    forAll(Gen.listOf(keyGen), Gen.listOf(keyGen), Gen.listOf(keyGen),
        Gen.nonEmptyListOf(keyGen)) { (persistedKeys, stagedKeys, tombKeys, probes) =>
      // persisted rows alternate child-bearing and leaf-like; staged
      // rows shadow/extend; tombstones kill persisted keys
      val pRows = persistedKeys.distinct.sorted.zipWithIndex.map { case (k, i) =>
        TreeRow(k, Some(s"v-$k"), if (i % 2 == 0) Some(s"c-$k") else None)
      }
      val node = new TreeNode(
        if (pRows.isEmpty) None else Some(new NodeFile(NodeFile.write(pRows, Map.empty))))
      try {
        stagedKeys.distinct.zipWithIndex.foreach { case (k, i) =>
          node.put(TreeRow(k, Some(s"s-$k"), if (i % 3 == 0) Some(s"sc-$k") else None))
        }
        tombKeys.distinct.foreach(k => node.put(TreeRow(k, None, None)))
        probes.forall { probe =>
          val oracle = node.mergedRows
            .filter(r => r.child.isDefined && r.key <= probe).lastOption
          node.floorChildRow(probe) == oracle
        }
      } finally node.close()
    }

  property("binary search finds exactly the present keys") =
    forAll(Gen.nonEmptyListOf(keyGen)) { keys =>
      val rows = keys.distinct.sorted.map(k => TreeRow(k, Some(s"v-$k"), None))
      val bytes = NodeFile.write(rows, Map.empty)
      val nf = new NodeFile(bytes)
      val hits = rows.forall(r => nf.binarySearch(r.key) >= 0)
      val miss = nf.binarySearch("zzzzzz~") < 0
      hits && miss
    }
}
