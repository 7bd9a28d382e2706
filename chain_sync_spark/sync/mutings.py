"""Community-muting job (reference handle_mutings.js, entry point 4).

The reference hourly job pages community roles, keeps role='muted'
(P9), and issues an update_by_query setting muted_in_community=true
where author=X AND parent_permlink=<community> (J4/S10). (In the
current reference revision the job body is dead code behind an early
return at handle_mutings.js:28 — we implement the intended
semantics.) Spark form: snapshot the roles relation, filter, then a
single MERGE-style join against the posts table — no per-account
update queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chain_sync_spark.sources.checkpoint import recover_swap as recover_table
from chain_sync_spark.sync.engine import POSTS_SCHEMA
from chain_sync_spark.sync.merge import merge_parquet, take_source


def muted_accounts(roles: DataFrame) -> DataFrame:
    """P9: keep accounts whose role is 'muted'. `roles` is the
    snapshot of the paginated bridge.list_community_roles source
    (account, role)."""
    return roles.filter(F.col("role") == "muted").select("account").distinct()


def apply_community_mutings(
    spark: SparkSession, posts_dir: str, roles: DataFrame, community: str
) -> None:
    """J4/S10: flag posts by muted authors in `community`. Posts that
    are already flagged are left out of the merge, so a re-run with
    unchanged roles rewrites no partition."""
    muted = muted_accounts(roles)
    recover_table(posts_dir, depth=2)  # posts: year/month
    posts = spark.read.schema(POSTS_SCHEMA).parquet(posts_dir)
    flagged = (
        posts.filter(
            (F.col("parent_permlink") == community)
            & ~F.coalesce(F.col("muted_in_community"), F.lit(False))
        )
        .join(F.broadcast(muted), posts.author == muted.account, "left_semi")
        .select("post_id", "year", "month", F.lit(True).alias("muted_in_community"))
    )
    merge_parquet(
        spark,
        posts_dir,
        flagged,
        key_cols=["post_id"],
        merge_exprs={"muted_in_community": take_source},
        partition_cols=["year", "month"],  # read from the target rows
        target_schema=POSTS_SCHEMA,
    )
