"""Pins of the driver contract: the query names, their order and the oracle
SQL text of every query in ``__spark_entry__``'s registry.

The driver samples a prefix of ``queries()`` and rejects any change to an
``oracle_sql()`` text, so both are pinned here byte for byte. A deliberate
change to a query's name, position or oracle must update these pins in the
same change; nothing else may move them.
"""

from __future__ import annotations

import hashlib
import inspect
from collections import Counter

import pytest

import __spark_entry__ as E

#: sha256 of the ``queries()`` names joined by newlines, in order
QUERY_ORDER_SHA256 = "696c83cf3ba63dd0135da45532c5d873902812ff6ca9696b16c59e7cee9bd0ce"

#: sha256 of each query's oracle SQL text (utf-8)
ORACLE_SHA256 = {
    "repetition_metrics": "cd56b7104f540af1ba6dd07364b22b21ed32d9777703dd9afd0399cb0b1a39e1",
    "document_filter": "0a0b784de4f9bb39c9261894523cd916087e7ed30a0e822dfe5c853403f73c29",
    "blocklist_terms": "b7b00d4ef106b15ad68ce93e191dea9081face3a53c8fedc9a305767dae4b2f9",
    "charset_detect": "3c4e376cf56d35be365af816315cd644337f97c3129be0ccee21f2d5f75d4970",
    "license_detect": "7a6ba7c92e43f7e553a7fe600a9ed81cb44dd9a73f10e42e9e121bc4f923a5f0",
    "extraction_cer": "ba899ac2da8e815a4ee7fc4d4018c200b792d7ecdce071c2f3cd601f3d721ff4",
    "wiki_ingest": "a6bda94bf86b102a8973f4408113cb6bca34eddf5941e6fd91dadb8a12a5df07",
    "sqldump_ingest": "01412373490dd3579c72a3ad45b29664882ef83f074817eb2fbbf6c7716a7b73",
    "cdx_ingest": "e94de018bae01ab3173e11bd7983f6d2d79621b0f69056e5160219c81f9ff1bb",
    "filter_report": "e78d13a159c14c9e386984fd2051226f92416f7f0ab7cf23fe93a792a08cebb3",
    "asof_join": "e7efd8a8e70093cb5627365d4c81e43dec9302992bb2e4a93eac1eab580b9018",
    "asof_join_chunked": "ef9778f8d830f056283cb47f621ced01abbff6e7a01d134900416531628567bb",
    "interval_count_join": "1102489a1ebca0a4fb48e215e3b8921814cff26f71e691cd400ea8c5adc02ff2",
    "sessionize": "96c1f387e29d12026e88b57820fb52cdaf4dd063737cdab74151ecfda0d3177e",
    "events_hourly": "d947916cb6e4f1c4e7eeb22e65fff3143e6da844679f28b0847fc3b76851766b",
    "layout_reading_order": "2b3d0843351de599491fed46e928b39dfce75aabb02cf3d51a3b722382aa21cb",
    "warc_ingest": "1745b6579b4e7fb43c891d36dd03716612b671b3e4bf0b1fa753f160aa02945d",
    "warc_html_ingest": "2da9947587d828393f6bd7b8cb06d2fd0def904a75bfa2f44709c93141da42f4",
    "html_link_graph": "5f0a4a9d9d6b42874a9e433afcee5d84e080de94c7258814c322dff1992fad18",
    "anchor_text_agg": "0fc2fd42de8de705b63ee9aa0165a3e4d98856d057341dc9b77bf575ba1a862b",
    "robots_filter": "120baec5d847b149ccbf144466d5dec765e354a06813834613044224b696ec59",
    "html_metadata": "9b63bb37fec23700ca28efd9f0902bd4da3e3c6f2e43853b4ed9e906cf679b0e",
    "crawl_frontier": "b9e8ff1f08f6ceb60c90ee8038169b82ab64b22c443f38eb04f42367ad67caed",
    "table_structure": "267b9efae84fe34878eeefefded88de167241f3d6786273c447da0ae55e25fd4",
    "document_outline": "d3c7cb9849917299d29ebce21744d53fdfc40f7958bd3f28a56b9036a0ca85ea",
    "sitemap_ingest": "ae507ff05ce94811597f096fac4e426406a7eec56eccaaa4928454f4e7c207ce",
    "feed_ingest": "33102b2f24107e8077ed3b9b6a5027bfc799eca97aee544d2f25b6ebe869b50d",
    "jsonl_ingest": "6651953603f616c4a0bbbb1e9bc3d45acb4e28d3fff7be89c10725204f055689",
    "csv_ingest": "6c75dbc1aced6afda75a5e558050b5aa1ce991f3da6910cb0c8a873a42ecf762",
    "wds_ingest": "9d8d962d88a670f1c57875313df97059b15781aaa38a4f0f550fd03d85ff2c13",
    "latex_ingest": "968efa3d3f8ec4ef9819805a591f508cd415f428087047a18efd297a614f0e1f",
    "markdown_ingest": "a713a6300360db952b6661ad5f2cb8b828bc9420ab1b4c65616ae5269b15b4ba",
    "mbox_ingest": "499a1307858e4ebcc34650fa94e4b4fbe17574521edf77b8b7e48b9436152399",
    "odt_ingest": "23c8893a0a1bc2c5e4286d37713ef9bce47d711fca83f4e1f9a47875a5663852",
    "ipynb_ingest": "bfe259c96db605fe9d10af55bc2d9cda4c9645d1d4b703394cd9357486b0842c",
    "patch_ingest": "7e2a2cc8da18ba47f18870b6d34cd6eab662eb8dd662ddb461ab140683e11e05",
    "heavy_hitters": "53efab12067d1e2a079721744aae1b83c314e91a9ca4c10655fc4d3b09bc0b2d",
    "mp3_meta": "7d5d2754ffd2b13f1ba535f1a61c56cd61242140234f9b84f1bff66b14bdb245",
    "se_dump_ingest": "1775cbc0d1f56f1aa0bd77ddbad5bcf4857b507bf584548fc35bbf2038498303",
    "snapshot_diff": "eed6a94fae66accc8402590b917ca4831e136233fce9da2b2d17928de5a7647e",
    "snapshot_churn": "c5c12d9ddab7c24d6538bdf1f6a9ecb09b5c02fa043b1967e8aee318f7991a0e",
    "distinct_census": "57398d46b235b9cd4f1f705c638c1b32602ec869b4a62027a253f6add8988e93",
    "subtitle_ingest": "c2c37b71c394ec630935dcf113bce8a1420cd116e4ce30f396598983209e97e3",
    "dialogue_turns": "d8e9ea2e07c6adbd264a8e455bb2ac347afd28fd7dd63a7bc760d767279ed8c8",
    "html_tables": "331bed7fb70b6dc1db76ef9ab7df3c44b05f79ce82bb7daec67158a3a25bab32",
    "front_matter": "b268ed7d4abf610f49be02ba609fdb367b2e90b1b2538ac00d24d1d61ca11787",
    "zorder_layout": "d4d20e95d26ad801420e535464b7efc4b7c39f608280fe6752b53d0079ee8e21",
    "skew_report": "61c8f5ca34d44808aa1aa4f801e45d228ded0f7e07981a3e339dfe97627b6db3",
    "access_log_ingest": "92e30ca2c5bfdc3827a2ffbacc83ebea4d3c7e7d83636016b6c35685d987b664",
    "rtf_ingest": "07d7968d1d19ed28de01256eb2bc0655212ab1664ada947b0a80286a8336a2d6",
    "docx_ingest": "e7abedb3539afbcd4294f572854ed8308661e99c9d1aed551b331b2d563e8993",
    "xlsx_ingest": "6a8279933938a15f8b5027ea9434e09fbde5db9e48ab60ddd853c3e2bb2238f1",
    "pptx_ingest": "ea0676f3a13fa60c5701f37297e647f05492d84865dddac9ff03f232520524ab",
    "epub_ingest": "add33eafbf228a30c72f6271f7beb120c62bdf7d6f1bb450dd2affed7f97c4ea",
    "dsir_sample": "4325681671f3f5b28cb03bbeb200535f5f77e5be197777bdf2786274b0a75340",
    "image_neardup": "06a0fd28352edca596641e9ee1da3cea59c6b135be2e3eb7a7259efbafe099e4",
    "exif_metadata": "3ec9d0d6ef63ecd3ba45e9fc800fb7713d907692ebe2c14227e6ba093f49e82a",
    "id3_metadata": "66378c5eebc2119caf46b27d89b162d5b2369601048ac4215850b217f17758f7",
    "mp4_metadata": "56d85c4b4dc794d0d6146decfc413148b8bbb398979654e34829223ed8a42ad8",
    "exif_strip": "b6d0387c6b39d498f061b6a13fd696b605938a9df9457de7f0242de8d72430d6",
    "mojibake_repair": "6b0dcd91c5074ae3082e1aeabc004e4998b36820f8c46dd77773d7330d5118e8",
    "unicode_nfc": "c29f894c095a3f92b33d95d52e76e47a4bc242c8d33970a6a9c49603272627ec",
    "script_profile": "1f602787b36aa8b5b97bac53dc690be1f536e4ee2ab07d175cff3ae4aab3041f",
    "sentence_split": "533e71e2ab8536eebe9e1f4cc2caff880483bfb95691bdcc6cfa1b86b6c22aa5",
    "sentence_chunking": "ad2367ff322c986e802c9c932fb9493a9093dcca90874d2ce8ebbe04db966c1c",
    "language_consistency": "3ad3a6373c724ad51205c97109bef87fa8edc039e50b1d87be518683af8543d4",
    "compression_signal": "04d9b13ee14bdb7be80e7354f26fd91493041735027dc9175c928eaefd23630e",
    "text_scrub": "18953b9db7f37c9e8f2c4d0de3972d86260170f220975c31c5436bcc9979ca26",
    "reply_strip": "48aa6a0f807fbbd61a1b87a6b502086bfc1ad518274d17da79240753f61ab872",
    "code_fences": "ec987757bf7b09cb63a50f4601339d803c1cb5722ada2b0d53442df488f34c2d",
    "cdc_chunks": "ed957d17bf037d134f6255267a05d7865fd2a6ca6d99037fc39099311944a6e5",
    "page_furniture": "163f6a2c8d8df5f0cb967e2c8a411aa99dcb44df88ecabb36671251ff62fae6c",
    "clean_extraction": "21ff90ff4c54dcf9f509459e95686f431b5cd170ba128972873a0cb8cd3b78dc",
    "hyphenation_repair": "f8cd0cfae335ffaaacf9ea061279b47bcba8a0fcb6da7b6ef12daba19ac65054",
    "pdf_ingest_spans": "0801b9f0d67fb23b4a310431d7df0a484ab7ce2cc006ddaa9cdf6fd854b380d4",
    "pdf_modern_ingest": "b3f110226b56c50695b7b3362f5f63b1256af21b355a957859d06396cc98a7f4",
    "pdf_encrypted_ingest": "4b3e0e0657326f53a884b0afd637eae3e7b08d45a9c47d6f639c531c195be8ad",
    "pdf_aes256_ingest": "0ad1c0d5294ba8cbddbe4aa3e3ddd423be0851ede2b351714aec02cf4555350b",
    "interval_count_null_bounds": "2ed52e99040e9a74963dbae1844a9c75a8f9945c9ac03bf1a9b63b3677c6f2b4",
    "pdf_media_roundtrip": "8e7386e65b640d60385c9bcd2821cc8a44cf2edf3f13a9ca42419dd9c3288582",
    "media_resize_roundtrip": "fcc852923ae87dd26f779c69bdbbcdba152ab7b82a6e5114164446f1589683e5",
    "audio_transcode_roundtrip": "4675020fecd1cc93eb720938b83bd29ea3e359555aaa482a6faa871fd720b721",
    "extraction_oracle": "bafd9c453a2179e6695c7f6b3fd8477473dbdc5a1d21ba18591426e9af2b2288",
    "winnowing_fingerprints": "e3321084ab2abb246c0390565dd28afa49e92303f226fe9f91df55b1feb17ef1",
    "simhash_sketches": "9d6b776be801e037498a5c8c70dfc2a024cbde6b31eac45a4e2806265932cc0e",
    "srp_ann_topk": "b1ad6de3b6490c836d6e15c4746f3475895a353ba91945af5006b6f98e360ab0",
    "ivf_ann_topk": "b1ad6de3b6490c836d6e15c4746f3475895a353ba91945af5006b6f98e360ab0",
    "pq_ann_topk": "b1ad6de3b6490c836d6e15c4746f3475895a353ba91945af5006b6f98e360ab0",
    "kmeans_clusters": "82d54fed85715c4ef430b9b5b29dc100f410d9c30e86d7ce9eddb750ba511db5",
    "semantic_dedup": "5042e4dc74f9152bc1835893fd17ed4d90ffe09b2095ffec44de9fe9a9a0c97e",
    "batch_ann_knn": "d45b01c844115ba8e53c297281c008cf7459448b5767606e266d7170abe0fabc",
    "spans_token_offsets": "6de61cf77f764ba9a6973020f4141634e3034c4ee19bca0554cf8a7b4655bc2e",
    "spans_reassemble": "4ca24c49a8c31a36fc20363277f4b23b7b334888effad56183154322ddd1c501",
    "word_count": "ffa631c85621c5efbd417b8fb8bd044fb91ce2c9867cbe0242d7ae9ef1e8a9fc",
    "status_rollup": "0e34d7dca13bc0a9ab8a63f07eb29935be48bcd7273107868c2a56674c259f90",
    "pending_anti_join": "06d906e90407ee3a5edf84d495f8d0bfdfe9870f309c0dd84b1b132fa0142546",
    "word_id_dereference": "b52c1a70124599d15d1b450474213d2782f18f8ee4a3049c75f119efcde3ff17",
    "dim_broadcast_join": "9750876d8ebdac3adf828b056a8ede9094761cae7a32757a170255aa87bdff4a",
    "latest_first_topk": "4b82eab1b6f51cf5a88f23ce6c42edb8352867b1dcf1a0d8acfd1f855c1d0f84",
    "tpch_q1": "109143b23cef1db8793a2b6cdfd1489aae3d871cd58d58964ee185ee4138e857",
    "tpch_q3": "5e5f101d35d25717c29a8f867b6217a2053cb9cbc7570e5c5ed3b6770b61f26a",
    "scalar_surface": "84753e775bbdedaaf5c7c18c0d6c7991264f355fe6db00260d864e23568bba00",
    "dedup_exact": "a229c4cd772fb7aba1ca7fc16bbe3e622e23e67b9bbdd15e75f135e5030fb5eb",
    "dedup_normalized": "ed495c8d6c1179173a21c67c6e1c56ad56e1b32fef8f0e9c107d1a408660bab9",
    "minhash_signatures": "a22d9a0dd1a98aebe81827253775dd7480f7d0c332cb950eb36ae8828a5ec89f",
    "minhash_band_buckets": "ab06a87b8741c63ac0bf65496023f083381925162d46b2b6ca1f140b9ff72c1c",
    "dedup_components": "d7bbe35fdcee787600f9ce355a1a1ba5a0781ec3c2508251777fee288b2abef4",
    "dedup_canonical_keep": "ca76a57f0b1186cbf1979148ddb44c1b7b67a4fcc70018ee8af94331703bf7e3",
    "common_line_removal": "53f8a9211fce2949eac8df34bfe0f3bcf4fecc62d44ba39f36ef0362eb5c3fa0",
    "contamination_flags": "619fb405d8adec6ea9f7c6e314690cb95b96bd34fcadebda3449ffbc3365b454",
    "sequence_packing": "63203e62854748a4b34bedcc5ea9fe0acad2abfbff4947c0a1587dda2ff5e457",
    "doc_chunking": "cec5dbcb4066a9878a02418151d3c341063342f91b8b2292864d1b39246089ce",
    "train_val_split": "afbdc30ad3611c57180cea500efc52bd5011f1fec810c50bd986873f34ccdac3",
    "source_quota_sample": "e8569a95024c4eed281bdb3cb6da638ac1459a2e7ea86d44058d5df9dd1eee2c",
    "host_cap_topk": "84370ea83634b728d2bcf09bccd72c07ed45c7e415b8b117fbb8fb70218554bd",
    "pagerank": "2b86c7627f748b5d0e4416fe9ee8d4ac2bb2afe055165ff63dda8226179cab01",
    "shard_assignment": "6f966dd8d8c027bacfa2842490cea0c65589a759f546457dfd29ef8924c67ce6",
    "exact_substring_dedup": "f65f304ff20e85d888884c7558df70d78cf99a691361a2d9015357787689a462",
    "temperature_mixture_sample": "a1c6ba9ac66664602ca64cb5cd761145c38ca58c94e8c45b80a6a4b76ce7ae8d",
    "unigram_quality": "a0f4b28f554cf22dc2ce75ea28017c33ff48e462ec2081e162d499253bb18818",
    "perplexity_buckets": "f0bdd297c464846e02ca45ab4b97b085f4563732e80115f8f69ea22589788b3b",
    "readability": "d9e0a9362e9d6fe01b9956db115b8944f90fb1878bc7ab541fc4448594e7bad0",
    "bigram_quality": "89069f5a800dd8e32626b4870592ffa00992ee8260171116347e46c2765d975b",
    "bpe_train": "bb9a0974ac66f33dac701c835addfb59da3345d3a714a05b625ff9fbfce10270",
    "bpe_encode": "581bcae9521d08e1814f1d6f99ad740f5672ae8101d2c941756cbbde90f09f82",
    "dedup_incremental": "def9f8a79a631467343442e20e5df4676663cdcd6989e5de3ce67beb7cd44f68",
    "dedup_incremental_bloom": "def9f8a79a631467343442e20e5df4676663cdcd6989e5de3ce67beb7cd44f68",
    "fuzzy_title_pairs": "6894b17784a5f69f55d26b02f95e903004f7e95d7448b2a569f0656bb1842cd6",
    "bm25_topk": "4da71001ab9e9e5a6fd083fa8483fcea7a74e7e093994beedf3aaa1af7a1ac15",
    "url_domain_filter": "68444ac945ca220391bf3ccbbdbf291136c40b30b1c2ca16b0469a2b334c3057",
    "corpus_stats": "7ae95b34c655ca24670f76a55de2087660a37a75146521902d1b3893483a1118",
    "quality_classifier": "e1506ca0eac599be038dcad8594d3421bc14e73254ab9a1670b7e0b207b960b6",
    "ngram_jaccard_topk": "4e8f86abeac7365f0aa945dab523fc9a48b2b6ee2035a692cf6971b9d67bf3a0",
    "embedding_cosine_topk": "9b3a2b1c7770cd169d0eb5f047320f62ac4daf4febbe863a731f59a003dac998",
    "embedding_neardup": "c3d60eb38aef911a9ac050f61b324d1f46c492481ce1f1d20f7e548f804ee976",
    "embedding_neardup_blas": "b39c6bef185b951664cc67a9f9a630c64da16a127d1aa6cd489368bb1166a2e4",
    "lang_id": "82aa08b46fb042f0db8763bb12c3cc453c084ffa7455ac92fa32b141108e2931",
    "quality_metrics": "5e63edd797cab3a7b7797989b6d3e63815134488f639734dfbc2acc1262dc2ae",
    "bpe_token_count": "87660f1e4806397753798d408f824dd40b92cfdc2a4b232d70904d989025d644",
    "fingerprint": "4af426a33e772f72d0e402e8d27f8f774175645a45346da10e1aed1c4778ed5d",
    "pii_redaction": "849b6a8676b2136a6035a4d9c02d3c008c1da37cc730a444b734bfd5630c9494",
}


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def test_query_names_and_order_pinned():
    assert _sha256("\n".join(E.queries())) == QUERY_ORDER_SHA256


def test_oracle_text_pinned():
    got = {name: _sha256(sql) for name, sql in E.oracle_sql().items()}
    changed = sorted(n for n in ORACLE_SHA256 if got.get(n) != ORACLE_SHA256[n])
    assert changed == []
    assert set(got) == set(ORACLE_SHA256)


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())
    assert list(E.queries()) == list(E.oracle_sql())


def test_every_query_def_registered_once():
    defs = {
        name
        for name, fn in vars(E).items()
        if name.startswith("_q_") and inspect.isfunction(fn)
    }
    registered = Counter(fn.__name__ for fn in E.queries().values())
    assert set(registered) == defs
    assert [n for n, c in registered.items() if c > 1] == []


def test_registry_rejects_duplicate_and_missing_oracle():
    before = dict(E.queries())
    with pytest.raises(ValueError, match="registered twice"):
        E._query("spans_token_offsets", "SELECT 1")(lambda spark, sf: None)
    with pytest.raises(ValueError, match="no oracle"):
        E._query("no_oracle_query", "  ")(lambda spark, sf: None)
    assert E.queries() == before


@pytest.mark.parametrize(
    "name",
    [
        "charset_detect",  # binary payload rendered from (doc_id, text)
        "mojibake_repair",  # text rewritten row by row
        "exif_strip",  # rendered payloads, then a per-row verdict check
    ],
)
def test_rendered_fixture_batch_invariant(spark, name):
    """``map_rows`` kernels give the same rows when Arrow batches hold 7 rows,
    so nearly every batch boundary falls inside the fixture range."""
    from test_config_invariance import session_conf

    def run():
        rows = E.queries()[name](spark, E.SF_DEFAULT).collect()
        return sorted(map(tuple, rows), key=repr)

    default = run()
    with session_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        batched = run()
    assert len(default) > 7
    assert batched == default
