package graft.txn

import scala.collection.mutable

import graft.storage.StorageOps
import graft.tree.TreeRoot

/** Mutable transaction state (reference Transaction.java:32-229): the
  * snapshot root it began on, the running root carrying uncommitted
  * tree changes, the action log, and — beyond the reference — an
  * ordered list of *replayable* key operations so a lost commit race
  * can rebase by re-applying its effects onto the winner's root
  * (the reference left that rebase as a TODO,
  * TreeOperations.java:962; SURVEY §4.3).
  */
final class Transaction(
    val id: String,
    val isolationLevel: String,
    val beginningRoot: TreeRoot,
    var runningRoot: TreeRoot,
    val beganAtMillis: Long,
    val expireAtMillis: Long) {

  val actions: mutable.Buffer[Action] = mutable.Buffer.empty

  /** Ordered effects: each re-applies one logical operation onto a
    * given running root (used both for the first write and for rebase
    * after a lost race). A replay must re-read any state it merges
    * with (e.g. a table append re-reads the table def from the new
    * base) — plain key puts can ignore the base.
    */
  val replays: mutable.Buffer[(StorageOps, TreeRoot) => Unit] = mutable.Buffer.empty

  var committed: Boolean = false

  /** Drop both tree snapshots ([[graft.tree.TreeNode.close]]). Call
    * once the transaction is finished (committed, rolled back, or
    * suspended); recorded actions/results stay valid — only tree reads
    * die.
    */
  def close(): Unit = {
    beginningRoot.close()
    if (runningRoot ne beginningRoot) runningRoot.close()
  }

  def requireOpen(): Unit = {
    require(!committed, s"transaction $id is already committed")
    require(System.currentTimeMillis() < expireAtMillis, s"transaction $id expired")
  }

  def record(action: Action): Unit = actions += action

  /** Read-only iff nothing was staged AND no write action was recorded
    * — a transaction resumed from storage has no replay closures but
    * does carry its persisted write actions.
    */
  def isReadOnly: Boolean =
    replays.isEmpty && !actions.exists(a => ActionType.isWrite(a.actionType))
}

class CommitFailedException(msg: String) extends RuntimeException(msg)
