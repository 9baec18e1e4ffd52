package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's static surface, checked without a Spark job: the
  * query and oracle key sets, and the exact bytes of every oracle string. */
class SparkEntrySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** sha256 of each oracle string (UTF-8). Changing an oracle means
    * updating its hash here, on purpose. */
  private val oracleSha256 = Map(
    "q01_agg_lineitem" -> "e9de7094cf672119d711b3581a547a073155e93beb315678b90f7c4987939214",
    "q02_topn_orders" -> "bddd1b99452e60e835383b5099fa57537ffeb2a5dc2aaf82d33c1ed6c381ce86",
    "q03_topn_per_customer" -> "4f4977b7706c99c0f46004e28823160591ff4b9d43f11696593081d1966e3490",
    "q04_join_revenue_by_nation" -> "cba7060ff728564df7c72256e0b2f88447e46b7c5ef1bb4772738f8fdfe6ccfe",
    "q05_semi_join" -> "18eb2fe8fb341cb99fe23f25a3d6e849ad9fc2add05afe2b4e48507c8d8f61f0",
    "q06_anti_join" -> "0d238d018e0d0f1f0b5f9bd287026a32192f04c38b99ddd5e98b2442ed2a894a",
    "q07_filter_project" -> "895fe32c729932df5e6c47774090d38ee145469a94141538aafbc44215c2046c",
    "q08_distinct" -> "ba37f5a692248b36a61a86b6b574ba6c151bd5ff428b74def34b5f62db264e54",
    "q09_events_histogram" -> "658b88dca8caa09b75434a7319dab28b377e83779cc60b317f2c74774b7c21db",
    "q10_running_window" -> "9813f779906d6ea46ed3d840df7c8074eeb584f9166827e0dffaa18059a494c8",
    "q11_tokenize" -> "1518b63b9c20e31f67ce4d466fb5f36cfde9a350dc55cf7ff24805764b1cbb7a",
    "q12_vocab_df" -> "66c88c7c57d1c7e2d0695cd674c6f48ee6b4975b98aee69ec2cd99f762c7583b",
    "q13_doc_pairs" -> "0ff2f36e44c7f6e29351882deba69582930e68e1d199aef3de1395dca11989c9",
    "q14_doc_top3" -> "5119e0e2eaaa41a10d2b448f55e1d6c772fda4d7980d0b54c7b16055ec38422d",
    "q15_dedup_exact" -> "41dea5e0e05874ec06bfb75f9d04af35ad9e75dcd156c0b5b18149db789cf81b",
    "q16_ngram_jaccard" -> "46941fe26c02fbb9cb7e3d4b71d454d148d866e255095a0694f5f3824a5e06a5",
    "q17_quality" -> "ee694ee918f4a558b6be933d91f912cf8d267072642e58cf487f50cb5ff3857d",
    "q18_token_count" -> "f18f1bedf427a961eabdf09380b6b936e4984caeff01cd879f38f7c45e01394e",
    "q19_langid" -> "4f4053c4c05d5fdf19c46f5dd6e2bcabda1e3ad16f013a56a8fbaee5ba85013a",
    "q20_fingerprint" -> "f7312a2cbe77506e3359c73bb6c8356f342a87bd8a5094277efcb2e5363b6b2b",
    "q21_cosine_top3" -> "d0afb046786c3cb3d6360a974013d456664bae949ff4a377599ee1afde434227",
    "q22_minhash_sigs" -> "8849d6d5f2167795f732b49a1c6de33bda18961a048c4863cbc8e7b04ab16955",
    "q23_lsh_pairs" -> "98ceadd2dbf1b9c8a3ec8eab7710ed2fb7dff6962b86fd118dc5f59a80bc7cd7",
    "q24_simhash_pairs" -> "c48de3a2049f646a4fd5fca0aa8e34897d79361e6486e6a7008e0ce8a68ae7f1",
    "q25_components" -> "445629ddcf94f0482742dd0838a760c27e5cf1ffd35b4c8d058095779dd6ddfd",
    "q25b_components_incremental" -> "445629ddcf94f0482742dd0838a760c27e5cf1ffd35b4c8d058095779dd6ddfd",
    "q26_multimodal_features" -> "a0078c9010d4e2a093f37d463bb1a5bbbc207533bbfc4d8c343b4ca8d9abf226",
    "q27_frame_sample" -> "e8b99b58ab6a876d33ca83a0f202c10bab1261448d3e8ce4a016fe6c6a682e8d",
    "q28_lsh_cosine_top3" -> "b5bc273a8f1f4dd2529c6a88db18e89c9339191bd54acca9712eaae2a6430bb8",
    "q29_group_stats" -> "0ae8bfbe4d5a421d344c2d3910891f9fdfa8178bf74af37ceb0b1fe7f783a4e7",
    "q30_pair_probe" -> "e4ae5fdc008def2747307e35fc4dca7634b745f4ee3356f0e8c6ee8ebf9a1cfc",
    "q31a_winnow_candidates" -> "223eb035c9b3c7972a794dd2acb05ecb0e215db3ddd1c82070504eb6cfa9fd1c",
    "q31b_substring_exists" -> "0d5a85e374f4ba6e9d42452bd45c0d2117b264997e7739c1d359e6e9442055cd",
    "q32_two_key_stats" -> "5d62296252d8b0cf67371fa40ec0c724bfd76cbce19df210bade81b7f246edc5",
    "q33_embedding_neardup" -> "41deb0c461094134bae6332c39ef575aa5509ab8560efd9ca3502929302fe5ca",
    "q34_case_control" -> "79489e27c8143959bdc6ef8f81a115bf58b3583d2aa0a72c5b8e28f158322f70",
    "q34b_sampled_controls" -> "b4e50acac991a35dd09ace7976bcaa219f416b0fc02e7bdbfc7ff31a6c91ccce",
    "q35_top_pairs_per_group" -> "8522b7aeeb1bbe93b2db17b85e885a160ec59b5cf4e12bbc9e4b40336d08f740",
    "q36_ivf_cosine_top3" -> "e1113bd2b87e1045d12e911639374c6647c39cb215b03caf1f897cbe4bb37a9e",
    "q37_semdedup" -> "289f473ef086572c02fffc38c40ccf172991cd1472f408109d0b378f0385cd69",
    "q38_repetition" -> "29e141dc136103e0f89687fef89d299d47f7b52e792135576d76ed35a2a2c516",
    "q39_redact" -> "df62aa55fb58f7d6789650cf5015948725bb01bf85297cf8d2ed4589ad7d7240",
    "q40_decontaminate" -> "4d44d41bb900508cb518c133659c730c0cb48a64068511bcb32c85d3fe0bdcbb",
    "q41_quality_filter" -> "e8193c86b4846813b85c87b577fb0a69c65d0ad832156c4e855fe6cec7c398a5",
    "q42_cluster_representatives" -> "55a871c3e6a33d03cf78373ed5c6541467a5d352b77caa11142da55b0eca1f24",
    "q43_shard_pack" -> "4989c2aebfa03e97af04d981fccb27283111d48f6ac16778617c1babb653c4aa",
    "q44_latest_version" -> "b724c8a660d378e3619512c0f6f6cd1ea810d7a704cc62bdb9eb5f854eaf7862",
    "q45_vendored_flags" -> "a4c033eb028831b6206d015e333c4c7ce43df51f81d2e47df92ea963a2589404"
  )

  test("queries and oracleSql name the same 48 queries") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 48)
    assert(SparkEntry.oracleSql.size == 48)
  }

  test("every oracleSql string hashes to its recorded sha256") {
    assert(oracleSha256.keySet == SparkEntry.oracleSql.keySet)
    val changed = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if sha256(sql) != oracleSha256(name) => name
    }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.mkString(", ")}")
  }
}
