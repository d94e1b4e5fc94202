package graft.streaming

import graft.SparkSpec

/** The stream sessions must carry the measured checkpoint-I/O defaults
  * (CheckpointIo's scaladoc has the A/B numbers): the FileSystem-based
  * checkpoint file manager and checksum sidecars off — and the env
  * overrides must win when set (deployment seam). A drain through the
  * shared session proves the manager actually works end-to-end (offset
  * log + state delta + commit log all go through it). */
class CheckpointIoSpec extends SparkSpec {

  test("shared stream session carries the checkpoint I/O defaults") {
    val ss = LshProbe.streamSession(spark)
    assert(ss.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      .endsWith("FileSystemBasedCheckpointFileManager"))
    assert(ss.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      == "false")
  }

  test("sessionFor extraConf overlays win over the defaults") {
    val ss = LshProbe.sessionFor(spark, Map(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true"))
    assert(ss.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      == "true", "a spec's explicit overlay must override CheckpointIo")
    assert(ss.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      .endsWith("FileSystemBasedCheckpointFileManager"),
      "untouched keys keep the tuned default")
  }

  test("locality is judged from the drain's checkpoint path: an hdfs:// " +
    "lineage drains on a private session without the local defaults") {
    val shared = LshProbe.streamSession(spark)
    assert(CheckpointIo.isLocal("/warehouse/graft_st_x/ckpt"))
    assert(CheckpointIo.isLocal("file:/warehouse/graft_st_x/ckpt"))
    assert(!CheckpointIo.isLocal("hdfs://nn:8020/warehouse/graft_st_x/ckpt"))
    assert(!CheckpointIo.isLocal("s3a://bucket/warehouse/graft_st_x/ckpt"))
    assert(LshProbe.checkpointSession(spark, "/warehouse/graft_st_x/ckpt") eq shared)
    val remote = LshProbe.checkpointSession(spark,
      "hdfs://nn:8020/warehouse/graft_st_x/ckpt")
    assert(remote ne shared, "a remote lineage must not drain on the tuned session")
    assert(remote.conf.get("spark.sql.shuffle.partitions") == "8")
    // No HDFS needed: the choice is a pure function of the path. Only an
    // explicit environment override may put a knob on a remote session.
    assert(sys.env.contains("SPARK_GRAFT_CKPT_FM") ||
      remote.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
        .forall(!_.endsWith("FileSystemBasedCheckpointFileManager")))
    assert(sys.env.contains("SPARK_GRAFT_CKPT_CHECKSUM") ||
      !remote.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
        .contains("false"))
    // and the shared session keeps its tuned contract
    assert(shared.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      == "false")
  }

  test("a drain through the tuned manager settles and checkpoints") {
    // End-to-end: the daily tally gate drains on the shared (tuned)
    // session — offset WAL, state store deltas and commit log are all
    // written through the FileSystem-based manager.
    val out = StreamingTallies.dailyTallyOnce(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
  }
}
