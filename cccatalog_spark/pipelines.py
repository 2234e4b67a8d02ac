"""End-to-end catalog pipelines — the reference's DAG graph as four
composable functions (SURVEY §3): a user of cc-archive/cccatalog runs
these instead of the Airflow DAG chain.

    provider APIs → bronze JSON records      (ingestion, out of scope)
    bronze → canonical rows                   ingest_provider_batch
    Common Crawl pages → canonical rows       cc_scrape
    rows → canonical image table              load_and_merge
    image table → popularity view             refresh_image_view

Each stage is DataFrame→DataFrame; orchestration (cron, retries,
sensors) stays outside, holding zero compute logic (SURVEY §7.0).
The stages are lazy except ``load_and_merge``, which returns its merge
materialized: the merged table is computed once and every consumer
(the ``image`` write, popularity, a later merge) reads those rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.operators.merge import image_merge
from cccatalog_spark.operators.normalize import (
    ensure_ingestion_type,
    normalize_image_batch,
    split_rejected,
)
from cccatalog_spark.operators.popularity import build_popularity
from cccatalog_spark.operators.provider_specs import ProviderSpec, apply_spec
from cccatalog_spark.session import materialize


def ingest_provider_batch(
    records: DataFrame, spec: ProviderSpec
) -> tuple[DataFrame, DataFrame]:
    """Bronze JSON records → (clean canonical rows, rejected rows).

    Replaces one provider_api_scripts/<provider>.py + ImageStore pass
    (SURVEY §3.2 steps 2-4)."""
    raw = apply_spec(records, spec)
    raw = ensure_ingestion_type(raw, default="provider_api")
    return split_rejected(normalize_image_batch(raw))


def load_and_merge(
    target: DataFrame,
    clean_batch: DataFrame,
    *,
    now: Column | None = None,
) -> DataFrame:
    """Clean rows → merged canonical image table (SURVEY §3.2 steps
    5-6: intra-batch key dedup A5, then the J1 upsert with system
    columns), computed once, materialized.

    The merge runs in one job before this returns, and every consumer
    — the caller's ``image`` write, the popularity constants and the
    view's join back (``refresh_image_view``) — reads the same rows, so
    ingest, normalize and the merge are not re-run per consumer, and a
    new row's ``uuid()`` identifier is the same in all of them. A chain
    of merges (``table2 = load_and_merge(table1, ...)``) does not
    re-run the earlier ones either.

    Scale note: the merged table is held as a ``session.materialize``
    copy: ``localCheckpoint`` in executor storage (MEMORY_AND_DISK), or
    a reliable ``checkpoint()`` when the session has a checkpoint dir.
    Either copy is released when the returned frame is
    garbage-collected (the reliable one given ``cleanCheckpoints``,
    which ``get_spark`` sets)."""
    from cccatalog_spark.schemas import IMAGE_KEY

    deduped = clean_batch.dropDuplicates(IMAGE_KEY)
    return materialize(image_merge(target, deduped, now=now))


def refresh_image_view(
    image: DataFrame,
    metrics: DataFrame,
    *,
    metric_field: str = "views",
) -> DataFrame:
    """image table + metrics dimension → image_view with
    ``standardized_popularity`` (SURVEY §3.3; util/popularity/sql.py).
    ``metrics``: (provider, metric, percentile) rows; the metric value
    is read from meta_data[metric]."""
    value = F.element_at(F.col("meta_data"), metric_field).cast("double")
    return build_popularity(image, metrics, "provider", value)


def cc_scrape(
    pages: DataFrame,
    sites: list[str] | None = None,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Domain-routed multi-site Common Crawl scrape: one (url, html)
    frame fans into the per-site scraper specs and back out as a
    single IMAGE_TSV_RAW stream.

    The reference runs ONE Spark job per provider over its own
    CC-index slice (providers/commoncrawl/*.py each wrap a full job —
    the WAT phase has already bucketed pages by domain). Spark-first
    that is a single plan: each spec's branch filters pages by the
    registrable host of its domain BEFORE the capture UDF, so a page
    is parsed at most once, by exactly the spec whose selectors apply,
    and no shuffle appears anywhere.

    Scale contract: at 100 TB the page store is host-partitioned (the
    WAT pipeline's natural output layout, mirroring the reference's
    per-provider index slices), so each branch's host filter becomes
    PARTITION PRUNING and the N branches together read each byte once.
    On unpartitioned input the branches are N filtered scans — correct
    but paying N× the I/O; partition the pages by host first.
    """
    from urllib.parse import urlparse

    from cccatalog_spark.operators.provider_specs_cc import (
        CC_SCRAPERS,
        apply_cc_spec,
    )

    site_list = sorted(CC_SCRAPERS if sites is None else sites)
    if not site_list:
        raise ValueError("cc_scrape: empty sites list")
    # hosts compare lowercased (URL authorities are case-insensitive;
    # mixed-case hosts occur in real crawl data)
    page_host = F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
    out = None
    for site in site_list:
        spec = CC_SCRAPERS[site]()
        host = (urlparse(spec.domain).netloc or spec.domain).lower()
        suffix = host[4:] if host.startswith("www.") else host
        routed = pages.where(
            (page_host == suffix) | page_host.endswith("." + suffix)
        )
        branch = apply_cc_spec(routed, spec, html_col=html_col,
                               url_col=url_col)
        out = branch if out is None else out.unionAll(branch)
    assert out is not None
    return out
