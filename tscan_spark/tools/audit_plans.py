"""Print `.explain("formatted")` for the key operators (docs/PLANS.md).

Usage: python -m tscan_spark.tools.audit_plans [sf_dir]
"""

from __future__ import annotations

import sys


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from tscan_spark.session import get_spark

    spark = get_spark(app_name="audit_plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    from tscan_spark import corpus, pipeline, pipeline_ratios
    from tscan_spark.operators import asof, dedup, ner, similarity

    sections = {
        "pushdown/pruning": corpus.load(spark, sf, "documents")
        .where("n_chars > 300")
        .select("doc_id"),
        "word_features": pipeline.word_features(spark, sf),
        "doc_features": pipeline.doc_features(spark, sf),
        "asof_broadcast": asof.asof_doc_features(spark, sf, strategy="broadcast"),
        "similarity_bruteforce": similarity.brute_force_topk(spark, sf),
        "ner_interval_join": ner.token_ner(spark, sf),
        "doc_ratios": pipeline_ratios.doc_ratios(spark, sf),
        "ngram_jaccard": dedup.ngram_jaccard_pairs(spark, sf),
        "multiprobe_ann": similarity.multiprobe_topk(spark, sf),
    }
    for name, df in sections.items():
        print(f"\n{'=' * 70}\n== {name}\n{'=' * 70}")
        df.explain("formatted")


if __name__ == "__main__":
    main()
