"""The gate entry's driver contract and the corpus job's default op set.

Every corpus operator is declared once, in
plans/corpus.build_corpus_queries; the entry and the job derive from it,
so these pins catch a changed contract, not drift between lists."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from jobs.run_corpus import default_ops

JOB_DEFAULT_OPS = {
    "doc_token_count", "doc_quality_score", "doc_language_id",
    "doc_fingerprint", "corpus_stats", "doc_length_histogram",
    "doc_length_quantiles", "doc_chunk_split", "ann_list_occupancy",
    "doc_repetition", "doc_gopher_flags", "corpus_pii_scan",
    "corpus_vocab_top", "corpus_bpe_merges", "corpus_pack_chunks",
    "corpus_mix_sample", "corpus_contamination", "corpus_boilerplate",
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_lsh_salted",
    "dedup_band_index", "dedup_ngram_jaccard", "dedup_simhash_neardup",
    "dedup_groups_cc", "corpus_retention", "corpus_training_cut",
    "events_asof_enrich", "events_asof_segmented", "events_window_attrib",
    "events_sessionize", "events_funnel",
    "ann_topk_bruteforce", "ann_topk_ivf", "ann_topk_ivf_quantized",
    "ann_topk_ivf_trained", "ann_topk_batch", "embedding_neardup_trained",
}


def test_driver_contract_and_job_default_ops():
    names = list(entry_mod.queries())
    assert names == list(entry_mod.oracle_sql())
    assert len(names) == 56
    # the driver verifies entries in declaration order: the six it never
    # reached before lead
    assert names[:6] == [
        "events_sessionize", "events_funnel", "corpus_retention",
        "corpus_training_cut", "multimodal_feature_extract",
        "multimodal_frame_sample",
    ]
    ops = default_ops()
    assert len(ops) == 38 and set(ops) == JOB_DEFAULT_OPS
