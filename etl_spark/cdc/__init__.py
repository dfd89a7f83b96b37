from etl_spark.cdc.changelog import (
    CHANGELOG_SCHEMA,
    CHANGELOG_SCHEMA_V0,
    TRANSCRIPTS_SCHEMA,
    ChangelogSpec,
    generate_changelog,
    write_changelog,
)
from etl_spark.cdc.apply import apply_batch, dedup_last_writer_wins, replay
from etl_spark.cdc.patch import (
    apply_patches,
    fold_patches,
    folded_to_patch_rows,
    resolve_patches,
)
from etl_spark.cdc.scd2 import apply_scd2, create_scd2_table, scd2_schema


def __getattr__(name: str):
    # router builds on the streaming driver, which imports this package:
    # load it on first use so either package can be imported first
    if name in ("RoutedCdcStream", "route_batch"):
        from etl_spark.cdc import router

        return getattr(router, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

__all__ = [
    "CHANGELOG_SCHEMA",
    "CHANGELOG_SCHEMA_V0",
    "TRANSCRIPTS_SCHEMA",
    "ChangelogSpec",
    "generate_changelog",
    "write_changelog",
    "apply_batch",
    "apply_patches",
    "dedup_last_writer_wins",
    "fold_patches",
    "folded_to_patch_rows",
    "replay",
    "resolve_patches",
    "RoutedCdcStream",
    "route_batch",
    "apply_scd2",
    "create_scd2_table",
    "scd2_schema",
]
