"""Per-site Common Crawl HTML scraper specs — the declarative twin of
the reference's 15 BeautifulSoup mappers (providers/commoncrawl/*.py,
~2,779 LoC).

Each reference scraper is an imperative ``getMetaData(html, url)`` that
soups the page, walks site-specific selectors, and yields
IMAGE_TSV-shaped rows (Provider.py:119-152 ``formatOutput``).  Here a
site is a ``CCScraperSpec``: a capture-rule list (one single-pass
stdlib-parser evaluation per page, ``functions/html_select.py``) plus
Column-algebra field mappings.  ``apply_cc_spec`` is the shared engine:

    pages(url, html) ─capture UDF─> _caps ─[explode group]─>
      per-column expressions ─required-field filter─> IMAGE_TSV_RAW

A spec only maps captures to columns.  Its rows flow into
operators/normalize.normalize_image_batch, the one place strings are
cleaned (sanitize, char limits, license canonicalization) for every
provider — the reference's split: scripts normalize, the store cleans
(image.py:131-235).  A spec names its license anchor's href as
``license_url`` (the ``ImageStore.add_item(license_url=…)`` contract);
``apply_cc_spec`` resolves it once into ``license`` and
``license_version`` (functions/licenses.license_from_path —
Provider.py:183-209).

Scale shape: the capture UDF is Arrow-batched and per-row independent
(the only Python in the pipeline); field mapping, license resolution
and the drop-row guards (the scrapers' ``return None`` / ``continue``
paths) are all whole-stage-codegen Column expressions.  No shuffle
anywhere — a 100 TB crawl maps partition-parallel into TSV rows.

Multi-image pages (Behance project modules, ScienceMuseum carousels,
IHA sliders, CAPL/SVGSilh card lists, DigitaltMuseum/FloraOn/
MuseumVictoria/EOL galleries) explode a capture GROUP — the engine
form of the scrapers' ``for item in soup.find_all(...):
extracted.extend(self.formatOutput)`` loops.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions.html_select import Rule, capture_col
from cccatalog_spark.functions.licenses import license_from_path
from cccatalog_spark.functions.sanitize import sanitize_string
from cccatalog_spark.schemas import IMAGE_TSV_RAW


def _empty() -> Column:
    # built lazily: module import must not require an active session
    return F.array().cast("array<string>")


class Caps:
    """Column context handed to a spec's field lambdas: flat captures,
    the exploded group instance (multi-image sites), and the page
    url."""

    def __init__(self, caps: Column, url: Column, item: Column | None):
        self._caps = caps
        self.url = url
        self._item = item

    def first(self, name: str) -> Column:
        """First flat capture (``soup.find``)."""
        return F.try_element_at(self._caps["f"][name], F.lit(1))

    def all(self, name: str) -> Column:
        """Every flat capture (``soup.find_all``)."""
        return F.coalesce(self._caps["f"][name], _empty())

    def gi(self, key: str) -> Column:
        """Group-instance capture of the exploded item."""
        return self._item[key]

    def gi_all(self, key: str) -> Column:
        """Multi child capture inside the group instance (joined with
        \\x1f by the engine)."""
        return F.coalesce(F.split(self._item[key], "\x1f"), _empty())

    def g1(self, name: str, attr: str) -> Column:
        """One attribute off the FIRST attr-dict capture — the atomic
        ``soup.find(...)`` + multi-attr read: every attribute comes
        from the SAME element (separate per-attr rules could mix
        elements when the first match lacks some attrs)."""
        return F.try_element_at(self._caps["g"][name], F.lit(1))[
            f"{name}.{attr}"
        ]

    def groups(self, name: str) -> Column:
        """Null-safe group-instance array (``find_all`` results as
        ``array<map<string,string>>``) — for specs that filter or
        index group matches without exploding them."""
        return F.coalesce(
            self._caps["g"][name],
            F.array().cast("array<map<string,string>>"),
        )


@dataclass
class CCScraperSpec:
    provider: str
    domain: str                      # '{domain}{path}' absolutization
    rules: list[Rule]
    # IMAGE_TSV_RAW column → raw capture expression (normalize
    # sanitizes); "license_url" is the license anchor's href, resolved
    # by apply_cc_spec into license + license_version
    columns: dict[str, Callable[[Caps], Column]]
    group: str | None = None         # groups key to explode (multi-image)
    group_fallback: str | None = None  # exploded when group is empty
    # columns that must be non-blank, else the row is dropped
    require: tuple[str, ...] = ("license", "url")
    row_filter: Callable[[Caps], Column] | None = None  # False → dropped
    watermarked: str = "f"


def cc_license(href: Column) -> Column:
    """CC URL → struct(license, license_version); non-CC hosts are
    rejected before the path regex (Provider.py:183-186)."""
    ok = href.isNotNull() & href.contains("creativecommons.org")
    parsed = license_from_path(href)
    null_pair = F.struct(
        F.lit(None).cast("string").alias("license"),
        F.lit(None).cast("string").alias("license_version"),
    )
    return F.when(ok, parsed).otherwise(null_pair)


def tags_json(arr: Column) -> Column:
    """Comma-split tag bags → top-20 distinct sorted JSON list
    (Provider.py:107-116 getTags; sort added for determinism)."""
    cleaned = F.transform(arr, lambda t: F.trim(t))
    cleaned = F.filter(cleaned, lambda t: t != "")
    return F.when(
        F.size(cleaned) > 0,
        F.to_json(F.slice(F.array_sort(F.array_distinct(cleaned)), 1, 20)),
    )


def _has_text(v: Column) -> Column:
    """Non-null and not blank once normalize sanitizes it: some
    character besides whitespace and backspace (sanitize_string drops
    both)."""
    return v.isNotNull() & v.rlike(r"[^\s\x08]")


def meta_json(**pairs: Column) -> Column:
    """metaData dict → JSON string, null and blank values stripped,
    null when empty (formatOutput emits \\N for an empty dict)."""
    keys, vals = zip(*sorted(pairs.items()))
    m = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]), F.array(*vals)
        ),
        lambda k, v: _has_text(v),
    )
    return F.when(F.size(F.map_keys(m)) > 0, F.to_json(m))


def _absolutize(domain: str, path: Column) -> Column:
    """'{domain}{path}' for site-relative srcs (Provider scrapers all
    do ``'{}{}'.format(self.domain.strip('%'), url)``)."""
    return F.when(
        path.isNotNull() & ~path.startswith("http"),
        F.concat(F.lit(domain), path),
    ).otherwise(path)


def _foreign_id_from_url(url: Column) -> Column:
    """Trailing-number id: ``.*?/(\\d+)/?$`` (Provider.py:172-179)."""
    fid = F.regexp_extract(url, r".*?/(\d+)/?$", 1)
    return F.when(fid != "", fid)


def _nonempty(c: Column) -> Column:
    return F.when(c.isNotNull() & (F.trim(c) != ""), c)


def _dim_or_zero(v: Column) -> Column:
    """int(float(v)) as a string, '0' when unparseable (the McCord and
    WoRMS scrapers' bug-fix fallback)."""
    return F.coalesce(
        F.floor(v.cast("double")).cast("int").cast("string"), F.lit("0")
    )


def apply_cc_spec(
    pages: DataFrame,
    spec: CCScraperSpec,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """(url, html) pages → IMAGE_TSV_RAW string rows for one site.

    One capture-UDF pass per page; optional group explode (generate,
    no shuffle); per-column Column expressions, with ``license_url``
    resolved once by :func:`cc_license`; required-field filter
    implementing the scrapers' drop paths.
    """
    df = pages.withColumn(
        "_caps", capture_col(F.col(html_col), spec.rules)
    ).where(F.col("_caps").isNotNull())
    item = None
    if spec.group is not None:
        arr = F.col("_caps")["g"][spec.group]
        if spec.group_fallback is not None:
            fb = F.col("_caps")["g"][spec.group_fallback]
            arr = F.when(
                F.coalesce(F.size(arr), F.lit(0)) > 0, arr
            ).otherwise(fb)
        df = df.withColumn("_g", F.explode(arr))
        item = F.col("_g")
    c = Caps(F.col("_caps"), F.col(url_col), item)
    lic = (
        cc_license(spec.columns["license_url"](c))
        if "license_url" in spec.columns else None
    )
    out = []
    for name in IMAGE_TSV_RAW.fieldNames():
        if name == "provider":
            expr = F.lit(spec.provider)
        elif name == "source":
            expr = F.lit("commoncrawl")
        elif name == "watermarked":
            expr = F.lit(spec.watermarked)
        elif lic is not None and name in ("license", "license_version"):
            expr = lic[name]
        elif name in spec.columns:
            expr = spec.columns[name](c)
        else:
            expr = F.lit(None)
        out.append(expr.cast("string").alias(name))
    res = df.select(*out, *(
        [spec.row_filter(c).alias("_keep")] if spec.row_filter else []
    ))
    if spec.row_filter is not None:
        res = res.where(F.col("_keep")).drop("_keep")
    for name in spec.require:
        res = res.where(
            F.col(name).isNotNull() & (F.trim(F.col(name)) != "")
        )
    return res


# ---------------------------------------------------------------------------
# deviantart — DeviantArt.py:48-117: rel=license anchor gates the row;
# og:image (placeholder-logo pages dropped), og: dims/title/url;
# creator = a.username* inside small.author; description div
# 'text block'; foreign id = gmi-deviationid attr (required).
# ---------------------------------------------------------------------------
def deviantart_spec(domain: str = "https://www.deviantart.com") -> CCScraperSpec:
    rules = [
        Rule("lic", "a", {"rel": "license", "href": True}, get="href"),
        Rule("og_image", "meta", {"property": "og:image"}, get="content"),
        Rule("og_w", "meta", {"property": "og:image:width"}, get="content"),
        Rule("og_h", "meta", {"property": "og:image:height"}, get="content"),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("author", "small", {"class": "author"}, get=None),
        Rule("creator", "a", {"class": "re:username$", "href": True},
             within="author", get="text"),
        Rule("creator_url", "a", {"class": "re:username$", "href": True},
             within="author", get="href"),
        Rule("desc", "div", {"class": "text block"}, get="text"),
        Rule("fid", "div", {"class": "dev-page-view view-mode-normal"},
             get="gmi-deviationid"),
    ]
    return CCScraperSpec(
        provider="deviantart",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: c.first("og_image"),
            "width": lambda c: c.first("og_w"),
            "height": lambda c: c.first("og_h"),
            "title": lambda c: c.first("og_title"),
            "creator": lambda c: c.first("creator"),
            "creator_url": lambda c: c.first("creator_url"),
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("og_url"), c.url
            ),
            "foreign_identifier": lambda c: _nonempty(c.first("fid")),
            "meta_data": lambda c: meta_json(
                description=c.first("desc")
            ),
        },
        require=("license", "url", "foreign_identifier"),
        # DeviantArt.py:64-66: the site logo placeholder means no image
        row_filter=lambda c: ~F.coalesce(
            c.first("og_image").contains("main/logo/card_black_large.png"),
            F.lit(False),
        ),
    )


# ---------------------------------------------------------------------------
# animaldiversityweb — AnimalDiversityWeb.py:61-186: img.resource src
# (domain-absolutized) + data-width/height/alt; og:title/og:url;
# section.metadata h3/p label:value pairs; ul.keywords li '::'-split
# tags; conditions_of_use key dropped.
# ---------------------------------------------------------------------------
def animaldiversityweb_spec(
    domain: str = "https://animaldiversity.org",
) -> CCScraperSpec:
    rules = [
        Rule("lic", "a", {"rel": "license", "href": True}, get="href"),
        # one atomic rule: src/dims/alt all read off the SAME img
        # (AnimalDiversityWeb.py:66-75 reads them from one find result)
        Rule("img", "img", {"class": "resource", "src": True},
             get=["src", "data-width", "data-height", "alt"]),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("md", "section", {"class": "metadata"}, get=None),
        Rule("md_keys", "h3", within="md", get="text", multi=True),
        Rule("md_vals", "p", within="md", get="text", multi=True),
        Rule("kw_ul", "ul", {"class": "re:keywords( last)?"}, get=None),
        Rule("kw", "li", {"class": None}, within="kw_ul", get="text",
             multi=True),
    ]

    def _meta(c: Caps) -> Column:
        # h3/p alternating pairs → map (conditions_of_use dropped,
        # AnimalDiversityWeb.py:106-108). The zip is positional, so a
        # section whose h3/p counts DIVERGE (an h3 without its value
        # paragraph) would shift every later value onto the wrong key
        # — emit no section metadata in that case rather than
        # misattributed pairs.
        keys = F.transform(
            c.all("md_keys"),
            lambda k: F.replace(F.lower(F.trim(k)), F.lit(" "), F.lit("_")),
        )
        vals = c.all("md_vals")
        pairs = F.filter(
            F.arrays_zip(keys.alias("k"), vals.alias("v")),
            lambda p: (p["k"] != "conditions_of_use") & p["k"].isNotNull()
            & p["v"].isNotNull(),
        )
        pairs = F.when(
            F.size(keys) == F.size(vals), pairs
        ).otherwise(F.array().cast("array<struct<k:string,v:string>>"))
        m = F.map_from_entries(pairs)
        base = F.create_map(
            F.lit("image_alt_text"), c.g1("img", "alt")
        )
        merged = F.map_filter(
            F.map_concat(base, m), lambda k, v: _has_text(v)
        )
        return F.when(F.size(F.map_keys(merged)) > 0, F.to_json(merged))

    return CCScraperSpec(
        provider="animaldiversityweb",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: _absolutize(domain, c.g1("img", "src")),
            "foreign_identifier": lambda c: _absolutize(
                domain, c.g1("img", "src")
            ),
            "width": lambda c: c.g1("img", "data-width"),
            "height": lambda c: c.g1("img", "data-height"),
            "title": lambda c: c.first("og_title"),
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("og_url"), c.url
            ),
            "meta_data": _meta,
            # '::'-separated keyword chains → flat distinct tag list
            "tags": lambda c: tags_json(
                F.flatten(
                    F.transform(c.all("kw"), lambda t: F.split(t, "::"))
                )
            ),
        },
    )


# ---------------------------------------------------------------------------
# behance — Behance.py:50-191: license anchor inside
# #project-block-copyright (or the ProjectCopyright tooltip class);
# og: title/url/owners/description; object-tag anchors; MULTI-image —
# every img under #project-modules except the blank placeholder.
# ---------------------------------------------------------------------------
def behance_spec(domain: str = "https://www.behance.net") -> CCScraperSpec:
    rules = [
        Rule("lic_old", "div", {"id": "project-block-copyright"}, get=None),
        Rule("lic_new", "div",
             {"class": "ProjectCopyright-tooltipContent-LVf"}, get=None),
        Rule("lic_a_old", "a", {"href": True}, within="lic_old", get="href"),
        Rule("lic_a_new", "a", {"href": True}, within="lic_new", get="href"),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("og_owners", "meta", {"property": "og:owners"}, get="content"),
        Rule("og_desc", "meta", {"property": "og:description"},
             get="content"),
        Rule("tags", "a",
             {"class": "re:(object-tag)|(ProjectTags-tagLink-Hh_)"},
             get="text", multi=True),
        Rule("modules", "div", {"id": "project-modules"}, get=None),
        Rule("img", "img", {"src": True}, within="modules", get=["src"],
             multi=True),
    ]
    return CCScraperSpec(
        provider="behance",
        domain=domain,
        rules=rules,
        group="img",
        columns={
            "license_url": lambda c: F.coalesce(
                c.first("lic_a_old"), c.first("lic_a_new")
            ),
            "url": lambda c: c.gi("img.src"),
            "foreign_identifier": lambda c: c.gi("img.src"),
            "title": lambda c: c.first("og_title"),
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("og_url"), c.url
            ),
            "creator": lambda c: c.first("og_owners"),
            "tags": lambda c: tags_json(c.all("tags")),
            "meta_data": lambda c: meta_json(
                description=c.first("og_desc"),
                set=F.coalesce(c.first("og_url"), c.url),
            ),
        },
        # Behance.py:186: the blank placeholder is not an image
        row_filter=lambda c: ~F.coalesce(
            c.gi("img.src").contains("img/site/blank.png"), F.lit(False)
        ),
    )


# ---------------------------------------------------------------------------
# capl — CAPL.py:42-125 (single-image path): everything scoped under
# div.singleimage; large-image href with /m/ /s/ → /l/; thumbnail /l/
# → /m/; landing = page url with size=m|s → size=l; title = the
# lang=en div.line span; fixed creator (CAPL.py:100).
# The browse-grid path (CAPL.py:128-205) is a different page shape
# and maps through ``capl_grid_spec`` below — the reference branches
# on div.singleimage the same way.
# ---------------------------------------------------------------------------
def capl_spec(domain: str = "http://capl.washjeff.edu") -> CCScraperSpec:
    rules = [
        Rule("single", "div", {"class": "singleimage"}, get=None),
        Rule("lic", "a", {"rel": "license", "href": True}, within="single",
             get="href"),
        Rule("alt_imgs", "span", {"class": "alternateImages"},
             within="single", get=None),
        Rule("direct", "span", {"class": "directLink"}, within="alt_imgs",
             get=None),
        Rule("img_href", "a", {"href": True}, within="direct", get="href"),
        Rule("line", "div", {"class": "line"}, within="single", get=None,
             multi=True),
        Rule("line_lang", "span", within="line", get="lang"),
        Rule("line_text", "span", within="line", get="text"),
    ]
    url_ = lambda c: F.regexp_replace(  # noqa: E731
        c.first("img_href"), r"(/m/)|(/s/)", "/l/"
    )

    def _title(c: Caps) -> Column:
        en = F.filter(
            c.groups("line"), lambda m: m["line_lang"] == "en"
        )
        return F.try_element_at(en, F.lit(1))["line_text"]

    return CCScraperSpec(
        provider="capl",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": url_,
            "thumbnail": lambda c: F.replace(
                url_(c), F.lit("/l/"), F.lit("/m/")
            ),
            "foreign_identifier": url_,
            "foreign_landing_url": lambda c: F.regexp_replace(
                c.url, r"(size=m)|(size=s)", "size=l"
            ),
            "creator": lambda c: F.lit("Michael R. Shaughnessy"),
            "title": _title,
        },
        require=("license", "url", "title"),
    )


# ---------------------------------------------------------------------------
# capl (browse-grid path) — CAPL.py:128-205: the multi-image card grid
# (div.'light item'/'dark item'); per-card license + lightbox href
# (/m/ /s/ → /l/, domain-prefixed), foreign landing = the span.imgTxt
# anchor whose TEXT is 'l', per-card lang=en line title. A separate
# spec because grid pages and detail pages are different shapes (the
# reference branches on div.singleimage at CAPL.py:42); route grid
# pages here, detail pages to capl_spec.
# ---------------------------------------------------------------------------
def capl_grid_spec(domain: str = "http://capl.washjeff.edu") -> CCScraperSpec:
    rules = [
        Rule("item", "div", {"class": "re:(light item)|(dark item)"},
             get=None, multi=True),
        Rule("details", "div", {"class": "image"}, within="item",
             get=None),
        Rule("i_lic", "a", {"rel": "license", "href": True},
             within="details", get="href"),
        Rule("i_img", "a", {"data-rel": "lightbox[results]", "href": True},
             within="details", get="href"),
        Rule("imgtxt", "span", {"class": "imgTxt"}, within="details",
             get=None),
        Rule("f_hrefs", "a", {"href": True}, within="imgtxt", get="href",
             multi=True),
        Rule("f_texts", "a", {"href": True}, within="imgtxt", get="text",
             multi=True),
        Rule("line", "div", {"class": "line"}, within="item", get=None),
        Rule("t_langs", "span", within="line", get="lang", multi=True),
        Rule("t_texts", "span", within="line", get="text", multi=True),
    ]
    url_ = lambda c: F.concat(  # noqa: E731  (CAPL.py:160-162)
        F.lit(domain + "/"),
        F.regexp_replace(c.gi("i_img"), r"(/m/)|(/s/)", "/l/"),
    )

    def _landing(c: Caps) -> Column:
        # the anchor whose text is 'l' links the large-size page
        # (CAPL.py:186-191)
        pairs = F.arrays_zip(
            c.gi_all("f_texts").alias("t"), c.gi_all("f_hrefs").alias("h")
        )
        hit = F.filter(pairs, lambda p: F.lower(F.trim(p["t"])) == "l")
        return F.when(
            F.try_element_at(hit, F.lit(1))["h"].isNotNull(),
            F.concat(F.lit(domain + "/"), F.try_element_at(hit, F.lit(1))["h"]),
        )

    def _title(c: Caps) -> Column:
        pairs = F.arrays_zip(
            c.gi_all("t_langs").alias("lg"), c.gi_all("t_texts").alias("tx")
        )
        en = F.filter(pairs, lambda p: p["lg"] == "en")
        return F.try_element_at(en, F.lit(1))["tx"]

    return CCScraperSpec(
        provider="capl",
        domain=domain,
        rules=rules,
        group="item",
        columns={
            "license_url": lambda c: c.gi("i_lic"),
            "url": url_,
            "thumbnail": lambda c: F.replace(
                url_(c), F.lit("/l/"), F.lit("/m/")
            ),
            "foreign_identifier": url_,
            "foreign_landing_url": _landing,
            "creator": lambda c: F.lit("Michael R. Shaughnessy"),
            "title": _title,
        },
        require=("license", "url", "title"),
    )


# ---------------------------------------------------------------------------
# digitaltmuseum — DigitaltMuseum.py:50-166: MULTI-image over
# li.media__item; per-item license anchor (two class generations),
# per-item landing href + img src/alt, credit 'label: name' split;
# page-level title (article__title h1) and leadtext description.
# ---------------------------------------------------------------------------
def digitaltmuseum_spec(
    domain: str = "https://digitaltmuseum.org",
) -> CCScraperSpec:
    rules = [
        Rule("item", "li", {"class": "media__item"}, get=None, multi=True),
        Rule("item_lic", "a", {"class": "re:(media__license.*?)"},
             within="item", get="href"),
        Rule("item_lic2", "a", {"class": "c-media-slider__license-link"},
             within="item", get="href"),
        Rule("item_a", "a", {"class": "re:module__media\\s+media--image"},
             within="item", get="href"),
        # atomic: src + alt off the ONE item img (DigitaltMuseum.py:
        # 104-118 reads both from a single findChild)
        Rule("item_img", "img", {"src": True}, within="item",
             get=["src", "alt"]),
        Rule("credit", "i", {"class": "media__credit"}, within="item",
             get="text"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("lead", "div", {"class": "article__leadtext"}, get=None),
        Rule("lead_p", "p", within="lead", get="text"),
        Rule("title_div", "div", {"class": "article__title"}, get=None),
        Rule("title_h1", "h1", within="title_div", get="text"),
        # the 'Metadata' section's li rows are 'Key   Value' pairs
        # delimited by 2+-space runs — text_raw keeps the delimiter
        # (DigitaltMuseum.py:78-91)
        Rule("mdsec", "section", {"class": "article__metadata"},
             get=None, multi=True),
        Rule("mdsec_label", "h2", within="mdsec", get="text"),
        Rule("mdsec_items", "li", within="mdsec", get="text_raw",
             multi=True),
    ]

    def _article_meta(c: Caps) -> Column:
        secs = F.filter(
            c.groups("mdsec"),
            lambda m: F.lower(F.trim(m["mdsec_label"])) == "metadata",
        )
        items = F.flatten(
            F.transform(
                secs,
                lambda m: F.coalesce(
                    F.split(m["mdsec_items"], "\x1f"), _empty()
                ),
            )
        )
        kv = F.filter(
            F.transform(
                items,
                lambda it: F.struct(
                    F.replace(
                        F.lower(
                            F.trim(F.try_element_at(F.split(it, r"\s{2,}"), F.lit(1)))
                        ),
                        F.lit(" "),
                        F.lit("_"),
                    ).alias("k"),
                    F.try_element_at(F.split(it, r"\s{2,}"), F.lit(2))
                    .alias("v"),
                ),
            ),
            lambda p: p["k"].isNotNull() & (p["k"] != "")
            & _has_text(p["v"]),
        )
        return F.map_from_entries(kv)

    def _meta(c: Caps) -> Column:
        base = F.create_map(
            F.lit("description"),
            F.replace(c.first("lead_p"), F.lit("Expand text"), F.lit("")),
            F.lit("image_alt_text"),
            c.gi("item_img.alt"),
            F.lit("set"),
            F.coalesce(c.first("og_url"), c.url),
        )
        merged = F.map_filter(
            F.map_concat(_article_meta(c), base),
            lambda k, v: _has_text(v),
        )
        return F.when(F.size(F.map_keys(merged)) > 0, F.to_json(merged))

    return CCScraperSpec(
        provider="digitaltmuseum",
        domain=domain,
        rules=rules,
        group="item",
        columns={
            "license_url": lambda c: F.coalesce(
                c.gi("item_lic"), c.gi("item_lic2")
            ),
            "url": lambda c: c.gi("item_img.src"),
            "foreign_identifier": lambda c: c.gi("item_img.src"),
            "foreign_landing_url": lambda c: _absolutize(
                domain, c.gi("item_a")
            ),
            "title": lambda c: c.first("title_h1"),
            # 'Fotograf: Name' → Name (DigitaltMuseum.py:147-151)
            "creator": lambda c: F.try_element_at(
                F.split(c.gi("credit"), ":"), F.lit(2)
            ),
            "meta_data": _meta,
        },
    )


# ---------------------------------------------------------------------------
# eol — EOL.py:62-170 (data_objects path): og:title ' - '-prefix,
# og:url is the landing page and carries the trailing-number foreign
# id; image = div.media > a href; license = creativecommons anchor
# inside div.'article source'; rights holder p[title='Rights holder'].
# Documented simplification: the taxon-page gallery walk
# (EOL.py:193-297) is not mapped — each gallery card links a
# data_objects detail page, which this spec maps with full license
# provenance (the gallery rows carry none).
# ---------------------------------------------------------------------------
def eol_spec(domain: str = "https://eol.org") -> CCScraperSpec:
    rules = [
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("kw", "meta", {"name": "keywords"}, get="content"),
        Rule("media", "div", {"class": "media"}, get=None),
        Rule("media_a", "a", {"href": True}, within="media", get="href"),
        Rule("source_div", "div", {"class": "article source"}, get=None),
        Rule("lic", "a", {"href": "re:creativecommons\\.org"},
             within="source_div", get="href"),
        Rule("rights", "p", {"title": "Rights holder"}, within="source_div",
             get="text"),
        # anchored: 'article source' / 'article-comments' must NOT
        # open the overview scope (first-wins would steal description)
        Rule("overview", "div", {"class": "re:^article( overview)?$"},
             get=None),
        Rule("copy", "div", {"class": "copy"}, within="overview",
             get="text"),
    ]
    landing = lambda c: F.coalesce(c.first("og_url"), c.url)  # noqa: E731
    return CCScraperSpec(
        provider="eol",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: c.first("media_a"),
            "foreign_landing_url": landing,
            "foreign_identifier": lambda c: _foreign_id_from_url(
                landing(c)
            ),
            # ' - '-suffixed site branding stripped (EOL.py:70)
            "title": lambda c: F.trim(
                F.try_element_at(F.split(c.first("og_title"), " - "), F.lit(1))
            ),
            "tags": lambda c: tags_json(F.split(c.first("kw"), ",")),
            "meta_data": lambda c: meta_json(
                description=F.try_element_at(
                    F.split(c.first("copy"), r"\."), F.lit(1)
                ),
                rights_holder=c.first("rights"),
            ),
        },
        require=("license", "url", "foreign_identifier"),
    )


# ---------------------------------------------------------------------------
# floraon — FloraOn.py:44-121: MULTI over div.thumbnail inside
# #fotochooser; per-photo license/img/dims (hidden inputs wid/hei)
# /creator (input aut); page-level species title; watermarked.
# ---------------------------------------------------------------------------
def floraon_spec(domain: str = "https://flora-on.pt") -> CCScraperSpec:
    rules = [
        Rule("chooser", "div", {"id": "fotochooser"}, get=None),
        Rule("photo", "div", {"class": "thumbnail"}, within="chooser",
             get=None, multi=True),
        Rule("p_lic", "a", {"rel": "license"}, within="photo", get="href"),
        # atomic: src + alt off the ONE photo img (FloraOn.py:62-78)
        Rule("p_img", "img", {"class": "image", "src": True},
             within="photo", get=["src", "alt"]),
        Rule("p_w", "input", {"name": "wid"}, within="photo", get="value"),
        Rule("p_h", "input", {"name": "hei"}, within="photo", get="value"),
        Rule("p_aut", "input", {"name": "aut"}, within="photo",
             get="value"),
        Rule("especie", "span", {"class": "especie"}, get="text"),
    ]
    return CCScraperSpec(
        provider="floraon",
        domain=domain,
        rules=rules,
        group="photo",
        columns={
            "license_url": lambda c: c.gi("p_lic"),
            # FloraOn.py:69: '{domain}/{src}'
            "url": lambda c: F.concat(
                F.lit(domain + "/"), c.gi("p_img.src")
            ),
            "foreign_identifier": lambda c: F.concat(
                F.lit(domain + "/"), c.gi("p_img.src")
            ),
            "width": lambda c: c.gi("p_w"),
            "height": lambda c: c.gi("p_h"),
            "creator": lambda c: c.gi("p_aut"),
            "title": lambda c: F.lower(F.trim(c.first("especie"))),
            "foreign_landing_url": lambda c: c.url,
            "meta_data": lambda c: meta_json(
                image_alt_text=c.gi("p_img.alt")
            ),
        },
        watermarked="t",
    )


# ---------------------------------------------------------------------------
# geographorguk — GeographOrgUK.py:50-140: #mainphoto img src/width/
# height; dct:title strong; rel=author creator (domain-absolutized
# href); span.tag tags; abbr lat/long titles; itemprop exifData/
# description; canonical link is the landing url and carries the
# trailing-number foreign id (required).
# ---------------------------------------------------------------------------
def geographorguk_spec(
    domain: str = "https://www.geograph.org.uk",
) -> CCScraperSpec:
    rules = [
        Rule("lic", "a", {"rel": "license", "href": True}, get="href"),
        Rule("main", "div", {"id": "mainphoto"}, get=None),
        # atomic: src + dims off the ONE #mainphoto img
        # (GeographOrgUK.py:63-70 reads all three from a single find)
        Rule("img", "img", within="main",
             get=["src", "width", "height"]),
        Rule("title", "strong", {"property": "dct:title"}, get="text"),
        Rule("author", "a", {"rel": "author", "href": True}, get="text"),
        Rule("author_href", "a", {"rel": "author", "href": True},
             get="href"),
        Rule("tags", "span", {"class": "tag"}, get="text", multi=True),
        Rule("lat", "abbr", {"class": "latitude"}, get="title"),
        Rule("lon", "abbr", {"class": "longitude"}, get="title"),
        Rule("exif", "span", {"itemprop": "exifData"}, get="text"),
        Rule("desc", "div", {"itemprop": "description"}, get="text"),
        Rule("canonical", "link", {"rel": "canonical", "href": True},
             get="href"),
    ]
    landing = lambda c: F.coalesce(c.first("canonical"), c.url)  # noqa: E731

    def _meta(c: Caps) -> Column:
        both = c.first("lat").isNotNull() & c.first("lon").isNotNull()
        return meta_json(
            latitude=F.when(both, c.first("lat")),
            longitude=F.when(both, c.first("lon")),
            date_taken=c.first("exif"),
            description=c.first("desc"),
        )

    return CCScraperSpec(
        provider="geographorguk",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: c.g1("img", "src"),
            "width": lambda c: c.g1("img", "width"),
            "height": lambda c: c.g1("img", "height"),
            "title": lambda c: c.first("title"),
            "creator": lambda c: c.first("author"),
            "creator_url": lambda c: _absolutize(
                domain, c.first("author_href")
            ),
            "tags": lambda c: tags_json(c.all("tags")),
            "foreign_landing_url": landing,
            "foreign_identifier": lambda c: _foreign_id_from_url(
                landing(c)
            ),
            "meta_data": _meta,
        },
        require=("license", "url", "foreign_identifier"),
    )


# ---------------------------------------------------------------------------
# iha — IHA.py:52-118: MULTI over span.swiper-slide in div.ph; the
# slide's 'about' attr is BOTH image url and foreign id; per-slide
# rel=license; child img gives thumbnail/dims/title/alt; page
# keywords → tags; landing og:url; watermarked.
# ---------------------------------------------------------------------------
def iha_spec(domain: str = "https://www.iha.com") -> CCScraperSpec:
    rules = [
        Rule("ph", "div", {"class": "ph"}, get=None),
        Rule("slide", "span", {"class": "swiper-slide"}, within="ph",
             get=None, multi=True),
        # rules evaluate in list order per element: the slide scope is
        # already open when this rule sees the SAME span, so its
        # 'about' attr lands inside the slide's own group instance
        Rule("s_about", "span", {"class": "swiper-slide"}, within="slide",
             get="about"),
        Rule("s_lic", "a", {"rel": "license", "href": True},
             within="slide", get="href"),
        # atomic: every attr off the ONE slide img (IHA.py:78-99 reads
        # them from a single findChild)
        Rule("s_img", "img", {"src": True}, within="slide",
             get=["src", "alt", "width", "height", "title"]),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("kw", "meta", {"name": "keywords"}, get="content"),
    ]
    return CCScraperSpec(
        provider="iha",
        domain=domain,
        rules=rules,
        group="slide",
        columns={
            "license_url": lambda c: c.gi("s_lic"),
            "url": lambda c: F.trim(c.gi("s_about")),
            "foreign_identifier": lambda c: F.trim(c.gi("s_about")),
            "thumbnail": lambda c: c.gi("s_img.src"),
            "width": lambda c: c.gi("s_img.width"),
            "height": lambda c: c.gi("s_img.height"),
            "title": lambda c: c.gi("s_img.title"),
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("og_url"), c.url
            ),
            "meta_data": lambda c: meta_json(
                image_alt_text=c.gi("s_img.alt"),
                tags=c.first("kw"),
            ),
        },
        watermarked="t",
    )


# ---------------------------------------------------------------------------
# mccordmuseum — McCordMuseum.py:62-163: div.image img (src domain-
# absolutized, dims int-coerced with '0' fallback, ObjView→ListView
# thumbnail); h1.vo 'ID | Title' split supplies BOTH title and the
# required foreign id; artist anchor by tablename=artist href;
# watermarked.
# ---------------------------------------------------------------------------
def mccordmuseum_spec(
    domain: str = "http://www.mccord-museum.qc.ca",
) -> CCScraperSpec:
    rules = [
        Rule("lic", "a", {"rel": "license", "href": True}, get="href"),
        Rule("imgdiv", "div", {"class": "image"}, get=None),
        # atomic: all four attrs off the ONE div.image img
        # (McCordMuseum.py:70-88 reads them from a single find)
        Rule("img", "img", within="imgdiv",
             get=["src", "width", "height", "alt"]),
        Rule("h1", "h1", {"class": "vo"}, get="text"),
        Rule("tags", "a", {"title": "All tagged images"}, get="text",
             multi=True),
        Rule("etq", "div", {"id": "etiquette"}, get=None),
        Rule("artist", "a", {"href": "re:.*?tablename=artist.*?"},
             within="etq", get="text"),
        Rule("desc", "div", {"id": "descriptions"}, get="text"),
    ]
    url_ = lambda c: _absolutize(domain, c.g1("img", "src"))  # noqa: E731
    return CCScraperSpec(
        provider="mccordmuseum",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": url_,
            "thumbnail": lambda c: F.replace(
                url_(c), F.lit("/ObjView/"), F.lit("/ListView/")
            ),
            "width": lambda c: _dim_or_zero(c.g1("img", "width")),
            "height": lambda c: _dim_or_zero(c.g1("img", "height")),
            "foreign_landing_url": lambda c: c.url,
            # 'ID | Title' (McCordMuseum.py:117-127)
            "title": lambda c: F.try_element_at(
                F.split(c.first("h1"), r"\|"), F.lit(2)
            ),
            "foreign_identifier": lambda c: _nonempty(
                F.trim(F.try_element_at(F.split(c.first("h1"), r"\|"), F.lit(1)))
            ),
            "tags": lambda c: tags_json(c.all("tags")),
            # 'Name (dates)' → Name (McCordMuseum.py:140-144)
            "creator": lambda c: F.try_element_at(
                F.split(c.first("artist"), r" \("), F.lit(1)
            ),
            "meta_data": lambda c: meta_json(
                description=c.first("desc"),
                image_alt_text=c.g1("img", "alt"),
            ),
        },
        require=("license", "url", "foreign_identifier"),
        watermarked="t",
    )


# ---------------------------------------------------------------------------
# museumvictoria — MuseumVictoria.py:58-194: license anchor inside
# span.licence; og: image/dims/title; -medium → -thumbnail thumbnail;
# div.creators 'Photographer:/Artist:' prefix strip; trailing-number
# foreign id from the page url (required); div.summary p description.
# The additional-thumbnails explosion (MuseumVictoria.py:156-183)
# maps through ``museumvictoria_gallery_spec`` below (the reference
# emits thumbnails INSTEAD of the primary when >1 exist). Documented
# simplification: the detail li h3/p metadata walk (:129-137) is not
# mapped — descriptive extras, no licensing or identity fields.
# ---------------------------------------------------------------------------
def museumvictoria_spec(
    domain: str = "https://collections.museumvictoria.com.au",
) -> CCScraperSpec:
    rules = [
        Rule("licspan", "span", {"class": "licence"}, get=None),
        Rule("lic", "a", {"href": True}, within="licspan", get="href"),
        Rule("og_image", "meta", {"property": "og:image"}, get="content"),
        Rule("og_w", "meta", {"property": "og:image:width"}, get="content"),
        Rule("og_h", "meta", {"property": "og:image:height"},
             get="content"),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("creators", "div", {"class": "creators"}, get="text"),
        Rule("summary", "div", {"class": "summary"}, get=None),
        Rule("summary_p", "p", within="summary", get="text"),
    ]
    return CCScraperSpec(
        provider="museumvictoria",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: c.first("og_image"),
            "thumbnail": lambda c: F.when(
                c.first("og_image").contains("-medium."),
                F.replace(
                    c.first("og_image"), F.lit("-medium"),
                    F.lit("-thumbnail"),
                ),
            ),
            "width": lambda c: c.first("og_w"),
            "height": lambda c: c.first("og_h"),
            "title": lambda c: c.first("og_title"),
            # 'Photographer: X' / 'Artist: X' → X
            "creator": lambda c: F.regexp_replace(
                c.first("creators"), r"^(Photographer|Artist):\s*", ""
            ),
            "foreign_landing_url": lambda c: c.url,
            "foreign_identifier": lambda c: _foreign_id_from_url(c.url),
            "meta_data": lambda c: meta_json(
                description=c.first("summary_p")
            ),
        },
        require=("license", "url", "foreign_identifier"),
    )


# ---------------------------------------------------------------------------
# museumvictoria (gallery path) — MuseumVictoria.py:156-183: when an
# item page lists >1 div.thumbnail, the reference emits one row per
# thumbnail instead of the og:image primary: thumbnail = domain + img
# src, url = thumbnail with -thumbnail → -medium, foreign id = that
# url, alt text into metaData. License/title context come from the
# page level exactly as in the primary spec.
# ---------------------------------------------------------------------------
def museumvictoria_gallery_spec(
    domain: str = "https://collections.museumvictoria.com.au",
) -> CCScraperSpec:
    rules = [
        Rule("licspan", "span", {"class": "licence"}, get=None),
        Rule("lic", "a", {"href": True}, within="licspan", get="href"),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("thumb", "div", {"class": "thumbnail"}, get=None, multi=True),
        # atomic: src + alt off the ONE thumbnail img
        # (MuseumVictoria.py:160-176)
        Rule("t", "img", within="thumb", get=["src", "alt"]),
    ]
    thumb = lambda c: _absolutize(domain, c.gi("t.src"))  # noqa: E731
    url_ = lambda c: F.replace(  # noqa: E731
        thumb(c), F.lit("-thumbnail"), F.lit("-medium")
    )
    return CCScraperSpec(
        provider="museumvictoria",
        domain=domain,
        rules=rules,
        group="thumb",
        columns={
            "license_url": lambda c: c.first("lic"),
            "thumbnail": thumb,
            "url": url_,
            "foreign_identifier": url_,
            "title": lambda c: c.first("og_title"),
            "foreign_landing_url": lambda c: c.url,
            "meta_data": lambda c: meta_json(
                image_alt_text=c.gi("t.alt")
            ),
        },
    )


# ---------------------------------------------------------------------------
# sciencemuseum — ScienceMuseum.py:53-147: license DECODED FROM THE
# BADGE IMAGE filename inside div.cite__method ('…/cc-by-nc-sa.svg' →
# by-nc-sa, no version); og: url/title/description; dl.fact-maker
# anchor creator ('unknown' dropped); MULTI-image over carousel (or
# single_image) imgs, src falling back to data-flickity-lazyload.
# ---------------------------------------------------------------------------
def sciencemuseum_spec(
    domain: str = "https://collection.sciencemuseum.org.uk",
) -> CCScraperSpec:
    rules = [
        Rule("cite", "div", {"class": "cite__method"}, get=None),
        Rule("lic_img", "img", {"src": True}, within="cite", get="src"),
        Rule("og_url", "meta", {"property": "og:url"}, get="content"),
        Rule("og_title", "meta", {"property": "og:title"}, get="content"),
        Rule("og_desc", "meta", {"property": "og:description"},
             get="content"),
        Rule("maker", "dl", {"class": "record-top__dl fact-maker"},
             get=None),
        Rule("maker_a", "a", within="maker", get="text"),
        Rule("maker_href", "a", within="maker", get="href"),
        Rule("rec", "img", {"class": "carousel__image"},
             get=["src", "data-flickity-lazyload"], multi=True),
        Rule("rec1", "img", {"class": "single_image"},
             get=["src", "data-flickity-lazyload"], multi=True),
        # 'Made: <date> in <place>' fact block (ScienceMuseum.py:100-106)
        Rule("made", "dl", {"class": "record-top__dl fact-Made"},
             get="text"),
        # record-details dl walk: dt label / dd value pairs
        # (ScienceMuseum.py:108-115)
        Rule("det", "dl", {"class": "re:(record-details.*?)"}, get=None,
             multi=True),
        Rule("det_dt", "dt", within="det", get="text"),
        Rule("det_dd", "dd", within="det", get="text"),
    ]

    def _license(c: Caps) -> Column:
        # last path segment of the badge src, extension dropped,
        # 'cc-' prefix stripped (ScienceMuseum.py:55-60)
        fname = F.try_element_at(F.split(c.first("lic_img"), "/"), F.lit(-1))
        stem = F.try_element_at(F.split(fname, r"\."), F.lit(1))
        return F.lower(F.regexp_replace(stem, r"^cc-", ""))

    img = lambda c: F.trim(  # noqa: E731
        F.coalesce(
            c.gi("rec.src"),
            c.gi("rec.data-flickity-lazyload"),
            c.gi("rec1.src"),
            c.gi("rec1.data-flickity-lazyload"),
        )
    )

    # 'unknown' makers are dropped (ScienceMuseum.py:90-92)
    known = lambda c: (  # noqa: E731
        F.lower(sanitize_string(c.first("maker_a"))) != "unknown"
    )

    def _meta(c: Caps) -> Column:
        # dt/dd pairs from every record-details dl (one pair per dl)
        details = F.filter(
            F.transform(
                c.groups("det"),
                lambda m: F.struct(
                    F.regexp_replace(
                        F.replace(
                            F.lower(F.trim(m["det_dt"])),
                            F.lit(" "),
                            F.lit("_"),
                        ),
                        ":+$",
                        "",
                    ).alias("k"),
                    m["det_dd"].alias("v"),
                ),
            ),
            lambda p: p["k"].isNotNull() & (p["k"] != "")
            & _has_text(p["v"]),
        )
        # 'Made: 1832 in London' -> date/geography (the reference
        # strips the labels then splits on the substring 'in')
        made = F.regexp_replace(
            F.coalesce(c.first("made"), F.lit("")),
            r"(Made:|Maker:)\s*",
            "",
        )
        parts = F.split(made, "in")
        two = F.size(parts) > 1
        base = F.create_map(
            F.lit("description"), c.first("og_desc"),
            F.lit("date"),
            F.when(two, F.trim(F.try_element_at(parts, F.lit(1)))),
            F.lit("geography"),
            F.when(two, F.trim(F.try_element_at(parts, F.lit(2)))),
        )
        merged = F.map_filter(
            F.map_concat(F.map_from_entries(details), base),
            lambda k, v: _has_text(v),
        )
        return F.when(F.size(F.map_keys(merged)) > 0, F.to_json(merged))

    return CCScraperSpec(
        provider="sciencemuseum",
        domain=domain,
        rules=rules,
        group="rec",
        group_fallback="rec1",
        columns={
            "license": _license,
            "url": img,
            "foreign_identifier": img,
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("og_url"), c.url
            ),
            "title": lambda c: c.first("og_title"),
            "creator": lambda c: F.when(known(c), c.first("maker_a")),
            "creator_url": lambda c: F.when(known(c), c.first("maker_href")),
            "meta_data": _meta,
        },
    )


# ---------------------------------------------------------------------------
# svgsilh — SVGSilh.py:44-114: MULTI over the bootstrap card grid;
# per-card cc0-ONLY license; asset domain recovered from og:image
# ('…/png' prefix); card img src with svg→png; /image/<n>.html landing
# anchor; dct:title anchor tags; title from og:description prefix.
# ---------------------------------------------------------------------------
def svgsilh_spec(domain: str = "https://svgsilh.com") -> CCScraperSpec:
    rules = [
        Rule("card", "div", {"class": "card mb-3 box-shadow h-100"},
             get=None, multi=True),
        Rule("c_lic", "a", {"rel": "license", "href": True},
             within="card", get="href"),
        Rule("c_img", "img", {"src": True}, within="card", get="src"),
        Rule("c_landing", "a", {"href": "re:/image/\\d+\\.html"},
             within="card", get="href"),
        Rule("tagp", "p", {"property": "dct:title"}, within="card",
             get=None),
        Rule("c_tags", "a", within="tagp", get="text", multi=True),
        Rule("og_image", "meta", {"property": "og:image"}, get="content"),
        Rule("og_desc", "meta", {"property": "og:description"},
             get="content"),
    ]
    # asset domain = og:image up to '/png' (SVGSilh.py:74-76)
    dom = lambda c: F.try_element_at(  # noqa: E731
        F.split(c.first("og_image"), "/png"), F.lit(1)
    )
    url_ = lambda c: F.concat(  # noqa: E731
        dom(c), F.replace(c.gi("c_img"), F.lit("svg"), F.lit("png"))
    )
    return CCScraperSpec(
        provider="svgsilh",
        domain=domain,
        rules=rules,
        group="card",
        columns={
            "license_url": lambda c: c.gi("c_lic"),
            "url": url_,
            "foreign_identifier": url_,
            "foreign_landing_url": lambda c: F.concat(
                dom(c), c.gi("c_landing")
            ),
            "tags": lambda c: tags_json(c.gi_all("c_tags")),
            # 'Cat Silhouette - Free vector (...)' → 'Cat Silhouette'
            "title": lambda c: F.try_element_at(
                F.split(
                    F.try_element_at(F.split(c.first("og_desc"), " - "), F.lit(1)),
                    r"\(",
                ),
                F.lit(1),
            ),
            "meta_data": lambda c: meta_json(
                svg=F.concat(dom(c), c.gi("c_img"))
            ),
        },
        # cc0 cards only (SVGSilh.py:63-65)
        row_filter=lambda c: cc_license(c.gi("c_lic"))["license"] == "cc0",
    )


# ---------------------------------------------------------------------------
# thorvaldsensmuseum — ThorvaldsensMuseum.py:47-101: the rel=license
# anchor's 'about' attr IS the image url; /large/→/small/ thumbnail;
# dims+alt-title come from the matching img[src == about]; creator =
# div.artists' own text with the a.standard child's href.
# ---------------------------------------------------------------------------
def thorvaldsensmuseum_spec(
    domain: str = "https://thorvaldsensmuseum.dk",
) -> CCScraperSpec:
    rules = [
        Rule("lic", "a", {"rel": "license", "href": True}, get="href"),
        Rule("lic_about", "a", {"rel": "license", "href": True},
             get="about"),
        Rule("imgs", "img", {"src": True},
             get=["src", "width", "height", "alt"], multi=True),
        Rule("artists", "div", {"class": "artists"}, get="text_direct"),
        Rule("artist_a", "a", {"class": "standard", "href": True},
             within="artists_scope", get="href"),
        Rule("artists_scope", "div", {"class": "artists"}, get=None),
    ]
    url_ = lambda c: c.first("lic_about")  # noqa: E731

    def _dim(attr: str):
        def get(c: Caps) -> Column:
            hit = F.filter(
                c.groups("imgs"), lambda m: m["imgs.src"] == url_(c)
            )
            return F.try_element_at(hit, F.lit(1))[f"imgs.{attr}"]

        return get

    return CCScraperSpec(
        provider="thorvaldsensmuseum",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": url_,
            "thumbnail": lambda c: F.replace(
                url_(c), F.lit("/large/"), F.lit("/small/")
            ),
            "width": _dim("width"),
            "height": _dim("height"),
            "title": _dim("alt"),
            "foreign_landing_url": lambda c: c.url,
            "foreign_identifier": url_,
            "creator": lambda c: c.first("artists"),
            "creator_url": lambda c: c.first("artist_a"),
        },
    )


# ---------------------------------------------------------------------------
# worms — WoRMS.py:46-160 (p=image pages): #photogallery_share
# data-url is the landing page, its 'pic' query param the foreign id;
# license = itemprop meta INSIDE #photogallery_resized_img; the same
# div's img gives url/dims/title; resized→thumbs thumbnail; author
# span's anchor (or nested text span) is the creator.
# ---------------------------------------------------------------------------
def worms_spec(
    domain: str = "http://www.marinespecies.org",
) -> CCScraperSpec:
    rules = [
        Rule("share", "div", {"id": "photogallery_share"}, get="data-url"),
        Rule("resized", "div", {"id": "photogallery_resized_img"},
             get=None),
        Rule("lic", "meta", {"itemprop": "license"}, within="resized",
             get="content"),
        # atomic: src/dims/title off the ONE resized-div img
        # (WoRMS.py:90-108 reads them from a single find)
        Rule("img", "img", within="resized",
             get=["src", "width", "height", "title"]),
        Rule("descspan", "span",
             {"class": "photogallery_caption photogallery_descr"},
             get=None),
        Rule("desc", "span",
             {"class": "photogallery_caption photogallery_text"},
             within="descspan", get="text"),
        Rule("authspan", "span",
             {"class": "photogallery_caption photogallery_author"},
             get=None),
        Rule("auth_a", "a", within="authspan", get="text"),
        Rule("auth_a_href", "a", within="authspan", get="href"),
        Rule("auth_text", "span",
             {"class": "photogallery_caption photogallery_text"},
             within="authspan", get="text"),
    ]
    return CCScraperSpec(
        provider="worms",
        domain=domain,
        rules=rules,
        columns={
            "license_url": lambda c: c.first("lic"),
            "url": lambda c: c.g1("img", "src"),
            "thumbnail": lambda c: F.replace(
                c.g1("img", "src"), F.lit("resized"), F.lit("thumbs")
            ),
            "width": lambda c: _dim_or_zero(c.g1("img", "width")),
            "height": lambda c: _dim_or_zero(c.g1("img", "height")),
            "title": lambda c: c.g1("img", "title"),
            "foreign_landing_url": lambda c: F.coalesce(
                c.first("share"), c.url
            ),
            # pic=<id> query param (WoRMS.py:48-53)
            "foreign_identifier": lambda c: _nonempty(
                F.parse_url(c.first("share"), F.lit("QUERY"), F.lit("pic"))
            ),
            "creator": lambda c: F.coalesce(
                c.first("auth_a"), c.first("auth_text")
            ),
            "creator_url": lambda c: F.when(
                c.first("auth_a").isNotNull(), c.first("auth_a_href")
            ),
            "meta_data": lambda c: meta_json(
                description=c.first("desc")
            ),
        },
        # WoRMS.py:66: only image-detail pages carry a verifiable license
        row_filter=lambda c: c.url.contains("p=image"),
    )


# ---------------------------------------------------------------------------
# registry — one spec per reference scraper (15)
# ---------------------------------------------------------------------------
CC_SCRAPERS: dict[str, Callable[[], CCScraperSpec]] = {
    "animaldiversityweb": animaldiversityweb_spec,
    "behance": behance_spec,
    "capl": capl_spec,
    "deviantart": deviantart_spec,
    "digitaltmuseum": digitaltmuseum_spec,
    "eol": eol_spec,
    "floraon": floraon_spec,
    "geographorguk": geographorguk_spec,
    "iha": iha_spec,
    "mccordmuseum": mccordmuseum_spec,
    "museumvictoria": museumvictoria_spec,
    "sciencemuseum": sciencemuseum_spec,
    "svgsilh": svgsilh_spec,
    "thorvaldsensmuseum": thorvaldsensmuseum_spec,
    "worms": worms_spec,
}
