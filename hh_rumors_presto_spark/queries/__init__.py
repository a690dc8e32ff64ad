"""Query modules. Importing them populates the registry (side-effect)."""

from __future__ import annotations

_LOADED = False


def load() -> None:
    global _LOADED
    if _LOADED:
        return
    # Import order is registration order, and the driver serves keys in
    # registration order after any key whose ledger row is not green
    # (__spark_entry__._ordered). A module registers its keys when first
    # imported: here, or earlier if another module imports it first.
    # tests/test_entry.py pins list(QUERIES) by md5, so a module move that
    # reorders serving fails there.
    from hh_rumors_presto_spark.queries import (  # noqa: F401
        advanced,
        aggregation,
        analytics_extra,
        analytics_round2,
        analytics_round3,
        analytics_round4,
        analytics_round5,
        breadth_round3,
        breadth_round4,
        breadth_round5,
        breadth_round6,
        breadth_round7,
        breadth_round8,
        breadth_round9,
        breadth_round10,
        breadth_round11,
        breadth_round12,
        breadth_round13,
        breadth_round14,
        breadth_round15,
        breadth_round16,
        breadth_round17,
        breadth_round18,
        breadth_round19,
        breadth_round20,
        breadth_round21,
        breadth_round22,
        breadth_round23,
        breadth_round24,
        breadth_round25,
        breadth_round26,
        breadth_round27,
        breadth_round28,
        breadth_round29,
        breadth_round30,
        breadth_round31,
        breadth_round32,
        breadth_round33,
        breadth_round34,
        breadth_round35,
        breadth_round36,
        breadth_round37,
        breadth_round38,
        breadth_round39,
        breadth_round40,
        breadth_round41,
        breadth_round42,
        breadth_round43,
        breadth_round44,
        breadth_round45,
        breadth_round46,
        breadth_round47,
        breadth_round48,
        breadth_round49,
        breadth_round50,
        breadth_round51,
        breadth_round52,
        breadth_round53,
        breadth_round54,
        breadth_round55,
        breadth_round56,
        breadth_round57,
        breadth_round58,
        breadth_round59,
        breadth_round60,
        breadth_round61,
        breadth_round62,
        breadth_round63,
        breadth_round64,
        breadth_round65,
        breadth_round66,
        breadth_round67,
        experimentation,
        tokenizer_round2,
        engine_surface,
        engine_surface2,
        event_analytics,
        curation_round4,
        curation_round5,
        extensions_corpus,
        extensions_curation,
        extensions_dedup,
        extensions_pipeline,
        extensions_sim,
        extensions_text,
        extensions_udf,
        flagship,
        flagship_multitag,
        graph,
        joins,
        lakehouse,
        misc_ops,
        multimodal_round2,
        observability,
        page_pipeline,
        relational,
        render,
        scale_patterns,
        scale_round2,
        scans,
        scans_extra,
        sql_surface,
        streaming,
        streaming_joins,
        strings_dates,
        tpch_full,
        tpch_more,
        tpch_partsupp,
        udtf_native,
        windows,
    )
    # Round-11 additions import LAST: never-evaluated keys are served in
    # REGISTRATION order, and these six must queue BEHIND the 50-key
    # round-11 backlog so the ledger drains exactly as projected
    # (they become the head of the round-12 window instead).
    from hh_rumors_presto_spark.queries import (  # noqa: F401
        ann_round3,
        tier3_keys,
    )
    # Round-11 second wave (lakehouse time-travel/incremental/compact):
    # after tier3_keys for the same serving-order reason.
    from hh_rumors_presto_spark.queries import (  # noqa: F401
        lakehouse_round2,
    )

    _LOADED = True
