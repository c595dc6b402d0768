"""Dump `.explain("formatted")` for the headline queries into PLANS_DUMP.md
— the raw physical plans behind the properties pinned in
tests/test_plan_quality.py, readable without a Spark session.

Expression ids (``#17``) and exchange ``plan_id``s are renumbered per
section in order of first appearance, so regenerating an unchanged tree
rewrites no line. What still can differ between two regenerations is a
choice AQE makes at run time from stage sizes: ``web_domain_rank``'s
broadcast join has planned ``BuildLeft`` on one run and ``BuildRight`` on
another of the same tree.

Usage: python tools/plan_dump.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_profit_star",
    "q17_small_qty",
    "j7_asof_join",
    "k1_topk_per_group",
    "sim_cosine_topk",
    "dedup_embedding_lsh",
    "dedup_minhash_lsh",
    "dedup_lines",
    "decon_ngram_overlap",
    "sim_ann_join",
    "s9_pdf_extract",
    "p8_training_prep",
    "dedup_incremental",
    "p10_pack_sequences",
    "curation_blocklist",
    "text_pii_redact",
    "web_link_graph",
    "web_domain_rank",
    "cluster_kmeans",
    "dedup_semantic",
    "curation_sample_mixture",
    "curation_quality_lr",
    "dedup_paragraphs",
    "dedup_exact_substring",
    "sim_ivf_kmeans",
    "dedup_clusters_star",
    "p11_substring_prep_star",
]


def stable_ids(plan: str) -> str:
    """Number ``#<id>`` and ``plan_id=<id>`` in ``plan`` 0, 1, … by first
    appearance (one sequence each)."""
    for pattern, fmt in ((r"#(\d+)", "#{}"), (r"plan_id=(\d+)", "plan_id={}")):
        ids: dict[str, int] = {}
        plan = re.sub(pattern, lambda m: fmt.format(ids.setdefault(m[1], len(ids))), plan)
    return plan


def main() -> None:
    from texteller_spark.plans import queries as Q
    from texteller_spark.plans.pipeline import extract_pages, extract_pages_chunked
    from texteller_spark.session import build_session
    from texteller_spark.sources.pages import pages_from_documents

    spark = build_session("plan-dump", cpus=4, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def formatted(df) -> str:
        return stable_ids(
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )

    sections = [
        "# PLANS_DUMP — formatted physical plans (generated by tools/plan_dump.py)\n",
        f"Input: `{SF}`. Regenerate after plan-affecting changes; the plan\n"
        "PROPERTIES are pinned by tests/test_plan_quality.py — this file is\n"
        "the human-readable evidence behind those pins.\n",
        "## pipeline_extract (flagship — shuffle-free fused map)\n",
        "```\n" + formatted(extract_pages(pages_from_documents(docs))) + "```\n",
        "## pipeline_extract_chunked (W5 — exactly two exchanges)\n",
        "```\n" + formatted(extract_pages_chunked(pages_from_documents(docs))) + "```\n",
    ]
    for name in HEADLINE:
        sections.append(f"## {name}\n")
        sections.append("```\n" + formatted(Q.QUERIES[name](spark, SF)) + "```\n")
    (ROOT / "PLANS_DUMP.md").write_text("\n".join(sections))
    print(f"wrote PLANS_DUMP.md ({len(HEADLINE) + 2} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
