package graft.cdc

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcPipeline.DmlPattern

/** Pins the bytes of every synthetic frame generator in [[CdcPipeline]]:
  * the oracle hashes of the cdc_* queries depend on the generators' LSN
  * and `seq` layout, so a refactor of a generator must leave both pinned
  * digests unchanged. Per generator, two SHA-256s:
  *  - `frames`: the sorted DISTINCT `(lsn, payload)` set;
  *  - `rows`: the decoded envelope rows without `seq` and `message_id`,
  *    distinct and sorted.
  * Both are partitioning-independent on purpose: every partition carries
  * its own Relation frame (and stream-control frames), so those frames,
  * the events they produce (a Truncate per partition) and `seq` repeat
  * once per partition, and suites share one JVM whose first session's
  * `local[N]` wins. The snapshot-chunk readers return rows, not frames,
  * and pin their sorted rows only.
  *
  * Run alone with `make spec S=graft.cdc.SyntheticWireSpec`. */
class SyntheticWireSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val d = "/root/testdata/sf0.001"

  private def sha(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** One canonical text per value: maps by sorted key, so the digest does
    * not depend on a map's iteration order. */
  private def render(v: Any): String = v match {
    case null => "\\N"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => hex(b)
    case x => x.toString
  }

  private def rowsDigest(df: DataFrame): String =
    sha(df.collect().map((r: Row) => r.toSeq.map(render).mkString("|")).distinct.sorted.toSeq)

  private def framesDigest(frames: Dataset[(Long, Array[Byte])]): (String, String) = {
    val set = frames.collect().map { case (l, p) => (l, hex(p)) }.distinct.sortBy(identity)
    val env = CdcPipeline.decodeFrames(frames, emitMessages = true).drop("seq", "message_id")
    (sha(set.map { case (l, p) => s"$l:$p" }.toSeq), rowsDigest(env))
  }

  private def maxKey = CdcPipeline.ordersMaxKey(spark, d)

  /** (frames, rows) digests per generator, computed at the generators'
    * last byte-level change. */
  private val pinned: Map[String, (String, String)] = Map(
    "compactFrames(orders_ud)" ->
      ("b69be304062535f309551d1a75e67b2d857674c33816fcf370a767abe6f45435",
        "1cab78e4352802c6d8bdda63ac417e858170bd7a8ce39846c289d6be0f7e724e"),
    "documentsToFrames" ->
      ("34ce5dd66b2cec9dca9f1cea2231ad75cf86ed3cd459b27971697f5ef8009864",
        "79f4e492b431913b2f8241ad2cff538c97d82951a5b98721831ed8e3e88f2825"),
    "documentsToFramesDml" ->
      ("3bb6d60c3b59a5acbb8b3c8166fb846f5178583b37230288a7bdbf0bed34155f",
        "abddbd40a6a4a745cb6964b47f7ec1dc28ade0d15f14509da0569bda814cf34c"),
    "embeddingsToFrames" ->
      ("1a20cfeb623ffedb83c5d4394e8fb2903ae0e256d91940edeb7f03de03d3bfb9",
        "e81445c09645462d8ed3f80cc63e93fdd31dfa48d8608c12bbb3e8db814335c1"),
    "eventsFullToFrames" ->
      ("f539b083fca7f7db69464818c88c75c49af02c17ea4072d6ef5e639ac2a33e29",
        "90534f4687157d234e8938bb9aaa43da27553fe8026644763add6e53a6e9c462"),
    "eventsToFrames" ->
      ("d8f961265a573536a194467f2380429bc2e361879ff28d568883682b054b1da2",
        "48001607bb351fa886a658f215d53ab1de413192346cdad32119129ea2b56bcc"),
    "eventsUserToFrames" ->
      ("ded51ec2d7c1d9e5ec0dc683761416014c176512da6910715893ee26eedf782a",
        "e88265e8bd07254fce478e3f40d38bf700554e4b6180c3e5edd3261e0baee7cd"),
    "jointOrdersLineitemFrames" ->
      ("d657d6f6540cd8ade227e9b0f8f5642383ef3e0e237b7e0d06a789b0026d0a90",
        "76279cc0446a064d84a0cb82aae9177b87e0e56de394ae2d7a9c1f1136b55c70"),
    "lineitemToFrames" ->
      ("dc3ad45cf08f7c5a79d1d39e184cc9a38091cad82aae790d876c3f7d4717e8f6",
        "cf0da4048d0e374c6997e88db108ada5bc70010a8cb43412a093895792481b0a"),
    "ordersSnapshotChunks*" ->
      ("dc228d3143509002d0736109980b7e52008d7f8454538f274adf89d5e3d31f18",
        "31e2257be9fcca70eea9790bb1846930629526d20b8dc078567b68e324aff4a8"),
    "ordersToFrames deletes" ->
      ("7838f1d1eb0bc4bb755804bd9838c0714abb50152859607672e51a86fd3b27c6",
        "0bc1ed4a3dbd059948b1004bc98aec207b5c07a5a9a6c073e748684beb6b2cf7"),
    "ordersToFrames origin" ->
      ("fe22ac904775489cb094fda724e2ffa6149436fd638bfdc02bd8132f7c44343d",
        "95420bf8affe432c7251538574ce378cf1a8b0a83b5a1257bcfe7480d058b86d"),
    "ordersToFrames plain" ->
      ("2162d0a5dce6ff73dfb8ca3ab438ea678c843be81ef073e8bfec91f444219719",
        "fb12ddcf634558e9f8ce5d6ac0ab305d5af6c3d7ac187162a1e54197bca79ca1"),
    "ordersToFrames truncate" ->
      ("ebc72ddfc8ac81efd2cc68968780edc77015db0fdc2b01c55ba6bddb8e943ffa",
        "9ad72b5d433a6056a3f740782c5d2d3ef7e8866b1bfc242795f9a37090f19357"),
    "ordersToFrames u-toast" ->
      ("6fdbfdc82aa368d31f098d20acbe396b4fd0e66e2b4b13298da56c0209d6ff6a",
        "92648bb666e66538d224816e952664643f259dc11770ed96cee089523e698932"),
    "ordersToFrames ud" ->
      ("f3782e42e0e92f5be5e896eafa7f8ca6be768d0d0aa527025f4004105bf1c899",
        "b5f77c0e82b347081c4e5e4db878836b1057ad633475a5752bb29dd73c6cd56b"),
    "ordersToFrames ud-toast" ->
      ("f8ca6bcbe8b3d4ca0c0096108ad8f45492099c4fd72ec3d4bd0414161ecf556d",
        "d20f4a03044f2b30d13cea8ead27d16b33cd2404153207f0bf1aba9677c03dc3"),
    "ordersToFrames udfi" ->
      ("67d41dd9cb06fafbf35adbe411d74e8f13dfdf0d074b4cc7e6b5c6fc44ba8caa",
        "d320d714edc111fecb762c083ea9598c4b19e90b67ea1a3f008e8d111d9dc3c1"),
    "ordersToFrames udfi-tail" ->
      ("db980ab97ebb6424802846a1594ed49f30f3b3146f002cc9e7a83cb1829948c3",
        "ffe8bbb07ccc46711089cecb47f72e05a0b8009e0e9d874a5a33fc3b43429cb1"),
    "ordersToFramesBiDir" ->
      ("44862b3002341e7bbe0e6a6675e756f5a0d70d88724a1e6c09f32e4b36728d5a",
        "80f2f6f6983e6120dc465657b51433db96481f9e2141c8ab1d9e0fd9e5b55960"),
    "ordersToFramesBinary" ->
      ("affcbf87c84286cea653838c5c2589a550754cc1a07a7f06ead795236c503d14",
        "ab3eb228040f668e7638c77c24122083c6bd523003c928fadd5a75146009eaf5"),
    "ordersToFramesCorrupted" ->
      ("696dadb671881dde93c0827cd5873b165bdb473f1f873e29021110cee93743b5",
        "929a7f3dc7a79e17cb32fc78642f05ed21d46bd28369d7e7e8ea7c5a9d70cd63"),
    "ordersToFramesDropping" ->
      ("d20716936349ecaa6b01f03427bd1316d833e7d18ed161b805c9d74b499fe3c2",
        "a55c6c5d19e55ee7c21c638490e7e60299f271b3d9a210c96358fa4da9a049a1"),
    "ordersToFramesEpoch2" ->
      ("600413c73643b55cb89a5a397290dfa3d529f123231b7ffe83fbbc768a113cf6",
        "ce06ef8aa8fbb496d594c9cc3a9b6e050c00247cfcecbd496c60535a58abb9f9"),
    "ordersToFramesEvolving" ->
      ("9999a20ab3b52de42241d8740fcdfff80bae982a2e96fd31211d3b24aaaa824d",
        "3a3baffb33ed6e249b7c644e7674d4095baacd91fa2d10a7fe1fab231afb9def"),
    "ordersToFramesNumeric" ->
      ("92dfc7e33dd6b5d337c5b9456c9899d7b93bef21a9115df0c1b2c6bfc536cc42",
        "bd2c7c5b845d6230ea5eeb0601b043d490633cf0b31566d28f7b5da3935530be"),
    "ordersToFramesPartitioned" ->
      ("0ea51f8e0ea53eb6942d0ed6160429ded9289b796017773ea934dfe353eaef3e",
        "81a3b244f1dbee4a0d71dba65c3708e1109836bd7059d5263d603aa69ff6668c"),
    "ordersToFramesRetyping" ->
      ("3749dac8a79f81116272ff3beae1ae9777922d24a86dcdfc167ad76fba2ad612",
        "35ea5d7e539557f8e368ed46ef4e88a54238ad9ed16a5cb686f364181178323f"),
    "ordersToFramesStreamed" ->
      ("e41c312ac9967e0689e6badeee570dfbffe4fef0ebf71990c543bcee628834f0",
        "5584202010d0af46a4061a7c4a00dfe7619624035d132b9dd035a8dc6a785328"),
    "ordersToFramesTail" ->
      ("1ffc6652b46ddb6079bcef79dbbfeb9287f429c9bf9253b118e12cb96e0e5bfb",
        "7f3028722c0baa26ed6edc82630001e5119124a2ff266ea8615d972bddb395d9"),
    "ordersToFramesTwoPhase" ->
      ("6e1ec3beb3505ed02001190a708fdf8cdb398d7c60b5af6827fce6c63d7f6700",
        "1377315008a180e2988d7c9b536663a341b1d2803b167cbbe857ff6f413b0cec"),
    "ordersToFramesWithMessages" ->
      ("2cee135dd539771b5d1e07ba1786b62f83fc1bbf60f3bec39b894d5763a3edc4",
        "fe8163d8da805bd5215a02fb8a7933b71f500064b5323a47087865332670c395"))

  private def check(name: String, got: (String, String)): Unit = {
    assert(pinned.get(name) === Some(got), s"digests of $name moved")
  }

  private val generators: Seq[(String, () => Dataset[(Long, Array[Byte])])] = Seq(
    "ordersToFramesBinary" -> (() => CdcPipeline.ordersToFramesBinary(spark, d)),
    "ordersToFramesEvolving" -> (() => CdcPipeline.ordersToFramesEvolving(spark, d)),
    "ordersToFramesNumeric" -> (() => CdcPipeline.ordersToFramesNumeric(spark, d)),
    "ordersToFramesRetyping" -> (() => CdcPipeline.ordersToFramesRetyping(spark, d)),
    "ordersToFramesPartitioned" -> (() => CdcPipeline.ordersToFramesPartitioned(spark, d)),
    "ordersToFramesDropping" -> (() => CdcPipeline.ordersToFramesDropping(spark, d)),
    "ordersToFramesStreamed" -> (() => CdcPipeline.ordersToFramesStreamed(spark, d)),
    "ordersToFramesTail" -> (() => CdcPipeline.ordersToFramesTail(spark, d, maxKey / 2)),
    "ordersToFramesBiDir" -> (() => CdcPipeline.ordersToFramesBiDir(spark, d)),
    "ordersToFramesTwoPhase" -> (() => CdcPipeline.ordersToFramesTwoPhase(spark, d)),
    "ordersToFramesWithMessages" -> (() => CdcPipeline.ordersToFramesWithMessages(spark, d)),
    "ordersToFramesCorrupted" -> (() => CdcPipeline.ordersToFramesCorrupted(spark, d)),
    "ordersToFramesEpoch2" -> (() => CdcPipeline.ordersToFramesEpoch2(spark, d, maxKey)),
    "lineitemToFrames" -> (() => CdcPipeline.lineitemToFrames(spark, d)),
    "jointOrdersLineitemFrames" -> (() => CdcPipeline.jointOrdersLineitemFrames(spark, d,
      DmlPattern(updates = true, deletes = true))),
    "documentsToFrames" -> (() => CdcPipeline.documentsToFrames(spark, d)),
    "documentsToFramesDml" -> (() => CdcPipeline.documentsToFramesDml(spark, d)),
    "embeddingsToFrames" -> (() => CdcPipeline.embeddingsToFrames(spark, d)),
    "eventsToFrames" -> (() => CdcPipeline.eventsToFrames(spark, d)),
    "eventsFullToFrames" -> (() => CdcPipeline.eventsFullToFrames(spark, d)),
    "eventsUserToFrames" -> (() => CdcPipeline.eventsUserToFrames(spark, d)),
    "compactFrames(orders_ud)" -> (() => CdcPipeline.compactFrames(
      CdcPipeline.ordersEventsUD(spark, d), CdcPipeline.ordersRelation)))

  /** Every DmlPattern the queries and the demo hand to `ordersToFrames`. */
  private val patterns: Seq[(String, () => DmlPattern)] = Seq(
    "plain" -> (() => DmlPattern()),
    "deletes" -> (() => DmlPattern(deletes = true)),
    "ud" -> (() => DmlPattern(updates = true, deletes = true)),
    "udfi" -> (() => DmlPattern(updates = true, deletes = true, fullImages = true)),
    "udfi-tail" -> (() => DmlPattern(updates = true, deletes = true, fullImages = true,
      inserts = false)),
    "u-toast" -> (() => DmlPattern(updates = true, toastPriorityOnUpdate = true)),
    "ud-toast" -> (() => DmlPattern(updates = true, deletes = true,
      toastPriorityOnUpdate = true)),
    "origin" -> (() => DmlPattern(originOnMod3 = true)),
    "truncate" -> (() => DmlPattern(truncateAtLsn = Some(maxKey * 4))))

  generators.foreach { case (name, frames) =>
    test(s"wire bytes pinned: $name") { check(name, framesDigest(frames())) }
  }

  patterns.foreach { case (name, pattern) =>
    test(s"wire bytes pinned: ordersToFrames $name") {
      check(s"ordersToFrames $name",
        framesDigest(CdcPipeline.ordersToFrames(spark, d, pattern())))
    }
  }

  test("snapshot chunk rows pinned: ordersSnapshotChunks and ordersSnapshotChunksFailover") {
    val plain = rowsDigest(CdcPipeline.ordersSnapshotChunks(spark, d, nChunks = 8))
    val failover = rowsDigest(
      CdcPipeline.ordersSnapshotChunksFailover(spark, d, nChunks = 8, maxKey))
    check("ordersSnapshotChunks*", (plain, failover))
  }
}
