"""The two workloads, each a closed loop of one operation at a time.

An operation calls the program's public pipeline functions exactly as
an operator's job would. In a traced operation the same functions run
with every layer boundary materialized (persist + count) inside a span
named after the layer's module, so per-layer time and Spark stage
metrics can be read off the spans.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.spans import Tracer

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    warmups = 1  # leading operations excluded from every metric

    def __init__(self, spark, inputs: gen.Inputs, run_dir: str,
                 tracer: Tracer, con) -> None:
        self.spark = spark
        self.inputs = inputs
        self.expected = inputs.expected
        self.run_dir = run_dir
        self.tracer = tracer
        self.con = con
        self.traced = False

    # -- hooks ---------------------------------------------------------
    def input_rows(self) -> int:
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i``."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> tuple[list[str], str | None]:
        """(failures, output hash or None) of operation ``i``."""
        raise NotImplementedError

    def hash_key(self, i: int) -> str | None:
        """Key under which operation ``i``'s output hash is recorded
        per seed; operations with the same key must hash the same."""
        return "op"

    # -- tracing helpers -----------------------------------------------
    def layer(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def materialize(self, df: DataFrame, sp) -> DataFrame:
        """Traced: persist and count ``df`` inside the open span."""
        if not self.traced:
            return df
        df = df.persist()
        sp.counts["rows"] = sp.counts.get("rows", 0) + df.count()
        return df

    def written(self, sp, path: str) -> None:
        if sp is not None:
            sp.counts["bytes"] = _dir_bytes(path)

    def out(self, i: int, what: str) -> str:
        return os.path.join(self.run_dir, "out", f"op{i:04d}", what)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.run_dir, "out", f"op{i:04d}"),
                      ignore_errors=True)


# ---------------------------------------------------------------------------
# catalog_refresh
# ---------------------------------------------------------------------------

IMAGE_VIEW_HASH_COLS = {
    "foreign_identifier": "", "foreign_landing_url": "", "url": "",
    "thumbnail": "", "width": "", "height": "", "filesize": "",
    "license": "", "license_version": "", "creator": "", "creator_url": "",
    "title": "", "meta_data": "map", "tags": "list", "watermarked": "",
    "provider": "", "source": "", "ingestion_type": "", "created_on": "",
    "updated_on": "", "last_synced_with_source": "", "removed_from_source": "",
    "standardized_popularity": "double",
}


class CatalogRefresh(Workload):
    """The daily batch: bronze JSON per provider and Common Crawl pages
    → ingest, scrape, normalize → union → merge into the canonical
    table → popularity view → parquet; and the pages' CC license links
    → parquet."""

    name = "catalog_refresh"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from cccatalog_spark.operators.provider_specs import flickr_spec
        from cccatalog_spark.schemas import POPULARITY_METRICS

        specs = {"flickr": flickr_spec}
        self.specs = {p: specs[p]() for p in gen.REFRESH_PROVIDERS}
        self.metrics = self.spark.createDataFrame(gen.POPULARITY, POPULARITY_METRICS)
        self.now = F.to_timestamp(F.lit(gen.NOW))

    def input_rows(self) -> int:
        return self.expected["batch_records"] + self.expected["pages"]

    def _records(self, provider: str) -> DataFrame:
        return self.spark.read.text(self.inputs.path("bronze", provider)) \
            .withColumnRenamed("value", "json")

    def op(self, i: int) -> None:
        from cccatalog_spark.functions.html import extract_page_col
        from cccatalog_spark.operators.cc_links import extract_cc_links
        from cccatalog_spark.operators.normalize import (
            normalize_image_batch, split_rejected)
        from cccatalog_spark.pipelines import (
            cc_scrape, ingest_provider_batch, load_and_merge, refresh_image_view)

        if self.traced:
            cleans = self._traced_ingest()
        else:
            cleans = [ingest_provider_batch(self._records(p), spec)[0]
                      for p, spec in self.specs.items()]
        pages = self.spark.read.parquet(self.inputs.path("pages"))
        if self.traced:
            with self.tracer.span("sources.scan") as sp:
                sp.counts["rows"] = pages.agg(
                    F.count("url"), F.sum(F.length("html"))).first()[0]
        with self.layer("pipelines.cc_scrape") as sp:
            scraped = self.materialize(cc_scrape(pages, list(gen.CC_SITES)), sp)
        with self.layer("operators.normalize") as sp:
            prepared = self.materialize(normalize_image_batch(scraped), sp)
            if sp is not None:
                sp.counts["clean"] = prepared.where(~F.col("_rejected")).count()
        batch = reduce(DataFrame.unionByName, cleans + [split_rejected(prepared)[0]])
        with self.layer("sources.scan") as sp:
            target = self.materialize(
                self.spark.read.parquet(self.inputs.path("target")), sp)
        with self.layer("operators.merge") as sp:
            merged = self.materialize(load_and_merge(target, batch, now=self.now), sp)
            if sp is not None:
                sp.counts["touched"] = merged.where(
                    F.col("updated_on") == self.now).count()
        with self.layer("operators.popularity") as sp:
            view = self.materialize(refresh_image_view(merged, self.metrics), sp)
        with self.layer("sources.write") as sp:
            view.write.mode("overwrite").parquet(self.out(i, "image_view"))
            self.written(sp, self.out(i, "image_view"))
        with self.layer("functions.html") as sp:
            parsed = self.materialize(pages.select(
                "url", extract_page_col(F.col("html")).alias("page")), sp)
        link = lambda path: lambda u: F.struct(  # noqa: E731
            u.alias("url"), F.lit(path).alias("path"))
        with self.layer("operators.cc_links") as sp:
            links = self.materialize(extract_cc_links(parsed.select(
                "url", F.concat(F.transform("page.links", link("A@/href")),
                                F.transform("page.images", link("IMG@/src")))
                .alias("links"))), sp)
        with self.layer("sources.write") as sp:
            links.write.mode("overwrite").parquet(self.out(i, "links"))
            self.written(sp, self.out(i, "links"))

    def _traced_ingest(self) -> list[DataFrame]:
        """ingest_provider_batch with one span per layer."""
        from cccatalog_spark.operators.normalize import (
            ensure_ingestion_type, normalize_image_batch, split_rejected)
        from cccatalog_spark.operators.provider_specs import apply_spec

        cleans = []
        for p, spec in self.specs.items():
            with self.tracer.span("sources.scan") as sp:
                records = self.materialize(self._records(p), sp)
            with self.tracer.span("operators.provider_specs") as sp:
                raw = self.materialize(apply_spec(records, spec), sp)
            with self.tracer.span("operators.normalize") as sp:
                prepared = self.materialize(normalize_image_batch(
                    ensure_ingestion_type(raw, default="provider_api")), sp)
                rejected = prepared.where(F.col("_rejected")).count()
                sp.counts[f"rejected.{p}"] = rejected
                sp.counts["clean"] = sp.counts["rows"] - rejected
                cleans.append(split_rejected(prepared)[0])
        return cleans

    def check(self, i: int) -> tuple[list[str], str | None]:
        e = self.expected
        path = self.out(i, "image_view")
        fails: list[str] = []
        now = f"TIMESTAMPTZ '{gen.NOW}+00'"
        rows = self.con.execute(
            f"SELECT provider, count(*), count(*) FILTER (WHERE updated_on = {now}),"
            f" count(*) FILTER (WHERE created_on = {now}),"
            f" count(*) FILTER (WHERE identifier IS NULL)"
            f" FROM {checks.scan(path)} GROUP BY provider").fetchall()
        by = {r[0]: r[1:] for r in rows}
        checks.expect(fails, "merged rows", sum(r[0] for r in by.values()),
                      e["merged_rows"])
        checks.expect(fails, "inserted rows", sum(r[2] for r in by.values()),
                      e["inserted"] + e["cc_rows"])
        checks.expect(fails, "null identifiers", sum(r[3] for r in by.values()), 0)
        touched = {p: r[1] for p, r in by.items() if r[1]}
        want = {p: pe["clean"] for p, pe in e["providers"].items()}
        want.update((s, n) for s, n in e["rows_per_site"].items() if n)
        checks.expect(fails, "rows merged per provider and CC site", touched, want)
        fails += checks.popularity_failures(self.con, path, gen.POPULARITY)
        _, view_digest = checks.table_hash(self.con, path, IMAGE_VIEW_HASH_COLS)
        n_links, links_digest = checks.table_hash(
            self.con, self.out(i, "links"), LINKS_HASH_COLS)
        checks.expect(fails, "cc links", n_links, e["cc_links"])
        if self.traced:
            fails += self._check_trace_counts()
        return fails, f"{view_digest}:{links_digest}"

    def _check_trace_counts(self) -> list[str]:
        e = self.expected
        fails: list[str] = []
        spans = [s for s in self.tracer.spans if s.op == self.tracer.op]
        named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
        norms = named("operators.normalize")
        for p, s_spec, s_norm in zip(self.specs, named("operators.provider_specs"), norms):
            pe = e["providers"][p]
            checks.expect(fails, f"{p} parsed rows", s_spec.counts["rows"], pe["parsed"])
            checks.expect(fails, f"{p} rejected rows",
                          s_norm.counts[f"rejected.{p}"], pe["rejected"])
        checks.expect(fails, "CC rows scraped", named("pipelines.cc_scrape")[0].counts["rows"],
                      e["cc_rows"])
        checks.expect(fails, "CC rows clean", norms[-1].counts["clean"], e["cc_rows"])
        checks.expect(fails, "touched rows", named("operators.merge")[0].counts["touched"],
                      e["inserted"] + e["updated"] + e["cc_rows"])
        return fails


LINKS_HASH_COLS = {"provider_domain": "", "page_url": "", "cc_url": "",
                   "html_metadata": ""}


# ---------------------------------------------------------------------------
# loader_ticks
# ---------------------------------------------------------------------------

LOADER_HASH_COLS = {c: {"meta_data": "map", "tags": "list"}.get(c, "")
                    for c, _ in gen.IMAGE_TSV_ARROW}


class LoaderTicks(Workload):
    """One TSV per tick through the minutely loader: stage the file,
    run the file-source stream with AvailableNow, upsert into the
    parquet table, wait for the commit.

    The table is restored to its generated snapshot before every tick
    (untimed), so every tick merges the same amount of work however
    many ticks a run completes; the stream's checkpoint and staging
    directory persist across ticks, as a long-running loader's do."""

    name = "loader_ticks"
    # ticks keep getting cheaper for about a dozen ticks while the JVM
    # compiles the hot paths; after three the slope is gentle
    warmups = 3

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from cccatalog_spark.schemas import IMAGE_KEY, IMAGE_TSV
        from cccatalog_spark.streaming.loader import ParquetUpsertTable

        d = lambda *p: os.path.join(self.run_dir, "loader", *p)  # noqa: E731
        self.table_dir, self.inbox = d("table"), d("inbox")
        self.staging, self.checkpoint = d("staging"), d("checkpoint")
        os.makedirs(self.inbox)
        workload = self

        class SpannedTable(ParquetUpsertTable):
            def merge_batch(self, batch, epoch_id):
                with workload.layer("operators.merge") as sp:
                    super().merge_batch(batch, epoch_id)
                    if sp is not None:
                        sp.counts["table_bytes"] = _dir_bytes(self.path)
                        sp.counts["rows"] = self.read().count()
                        sp.counts["touched"] = batch.count()

        self.table = SpannedTable(self.spark, self.table_dir, IMAGE_KEY, IMAGE_TSV)
        self.progress: dict[int, dict] = {}

    def input_rows(self) -> int:
        return self.expected["tick_rows"]

    def _tick_file(self, i: int) -> str:
        return self.inputs.path("ticks", f"tick-{i % self.expected['ticks']:05d}.tsv")

    def hash_key(self, i: int) -> str | None:
        return f"tick{i % self.expected['ticks']}"

    def before_op(self, i: int) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
        shutil.copytree(self.inputs.path("table"), self.table_dir)
        dst = os.path.join(self.inbox, f"tick-{i:05d}.tsv")
        shutil.copyfile(self._tick_file(i), dst)
        # old enough for the loader's 15-minute file-age gate, and
        # newer than every file staged before it
        old = time.time() - 3600
        os.utime(dst, (old, old))

    def _transform(self, batch: DataFrame) -> DataFrame:
        from cccatalog_spark.operators.normalize import (
            normalize_image_batch, split_rejected)

        with self.layer("sources.scan") as sp:
            batch = self.materialize(batch, sp)
        with self.layer("operators.normalize") as sp:
            prepared = self.materialize(normalize_image_batch(batch), sp)
            if sp is not None:
                sp.counts["clean"] = prepared.where(~F.col("_rejected")).count()
        return split_rejected(prepared)[0]

    def op(self, i: int) -> None:
        from cccatalog_spark.schemas import IMAGE_TSV_RAW
        from cccatalog_spark.streaming.loader import (
            stage_eligible_files, start_tsv_upsert_stream)

        with self.layer("streaming.loader.stage"):
            staged = stage_eligible_files(self.inbox, self.staging)
        if len(staged) != 1:
            raise RuntimeError(f"tick {i}: staged {len(staged)} files, expected 1")
        with self.layer("streaming.loader.start") as sp:
            t0 = time.perf_counter()
            query = start_tsv_upsert_stream(
                self.spark, self.staging, self.table, IMAGE_TSV_RAW,
                self.checkpoint, transform=self._transform, available_now=True)
            start_s = time.perf_counter() - t0
        with self.layer("streaming.loader.run"):
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"tick {i}: stream failed: {query.exception()}")
        durations = [p.durationMs for p in query.recentProgress if p.numInputRows]
        self.progress[i] = {
            "stream_start_s": start_s,
            "add_batch_s": sum(d.get("addBatch", 0) for d in durations) / 1e3,
            "fixed_s": sum(d.get("triggerExecution", 0) - d.get("addBatch", 0)
                           for d in durations) / 1e3,
            "batches": len(durations),
            "tsv_bytes": os.path.getsize(self._tick_file(i)),
        }

    def check(self, i: int) -> tuple[list[str], str | None]:
        e = self.expected
        fails: list[str] = []
        checks.expect(fails, "micro-batches committed", self.progress[i]["batches"], 1)
        scan = checks.scan(self.table_dir)
        prefix = gen.tick_title_prefix(i % e["ticks"])
        n, touched = self.con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE starts_with(title, '{prefix}'))"
            f" FROM {scan}").fetchone()
        checks.expect(fails, "table rows", n, e["table_rows"] + e["tick_inserts"])
        checks.expect(fails, "rows carrying the tick's title", touched, e["tick_rows"])
        digest = None
        if i % e["ticks"] == 0:  # hashing every tick would dominate the run
            _, digest = checks.table_hash(self.con, self.table_dir, LOADER_HASH_COLS)
        return fails, digest


WORKLOADS = {w.name: w for w in (CatalogRefresh, LoaderTicks)}
