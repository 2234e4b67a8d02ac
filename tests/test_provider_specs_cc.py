"""Per-site Common Crawl scraper specs vs hand-built pages that
exercise the reference selectors (providers/commoncrawl/*.py).  Each
case pins the full IMAGE_TSV_RAW row, including the drop paths
(missing license, placeholder image, non-cc0 svgsilh cards)."""

from __future__ import annotations

import json

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

from cccatalog_spark.operators.normalize import (
    normalize_image_batch,
    split_rejected,
)
from cccatalog_spark.operators.provider_specs import flickr_spec
from cccatalog_spark.operators.provider_specs_cc import (
    CC_SCRAPERS,
    apply_cc_spec,
)
from cccatalog_spark.pipelines import ingest_provider_batch


def _run(spark, spec, url, html):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    rows = [r.asDict() for r in apply_cc_spec(df, spec).collect()]
    for r in rows:
        assert set(r) == {
            "foreign_identifier", "foreign_landing_url", "url", "thumbnail",
            "width", "height", "filesize", "license", "license_version",
            "creator", "creator_url", "title", "meta_data", "tags",
            "watermarked", "provider", "source", "ingestion_type",
        }
    return rows


def _clean(spark, spec, url, html):
    """Rows after normalize_image_batch — where strings get sanitized."""
    df = spark.createDataFrame([(url, html)], "url string, html string")
    good, _ = split_rejected(normalize_image_batch(apply_cc_spec(df, spec)))
    return good.collect()


def test_registry_covers_all_fifteen_reference_scrapers():
    assert sorted(CC_SCRAPERS) == [
        "animaldiversityweb", "behance", "capl", "deviantart",
        "digitaltmuseum", "eol", "floraon", "geographorguk", "iha",
        "mccordmuseum", "museumvictoria", "sciencemuseum", "svgsilh",
        "thorvaldsensmuseum", "worms",
    ]


def test_deviantart_full_row(spark):
    html = """
    <html><head>
    <meta property="og:image" content="https://images.da.net/art.jpg">
    <meta property="og:image:width" content="800">
    <meta property="og:image:height" content="600">
    <meta property="og:title" content="My &quot;Art&quot;">
    <meta property="og:url" content="https://www.deviantart.com/bob/art/123">
    </head><body>
    <a rel="license"
       href="https://creativecommons.org/licenses/by-nc-sa/3.0/">CC</a>
    <small class="author">by
      <a class="u username" href="https://bob.deviantart.com">Bob</a></small>
    <div class="text block">A   nice
    piece</div>
    <div class="dev-page-view view-mode-normal" gmi-deviationid="987"></div>
    </body></html>"""
    spec = CC_SCRAPERS["deviantart"]()
    (row,) = _run(spark, spec, "https://x.test/page", html)
    assert row["license"] == "by-nc-sa"
    assert row["license_version"] == "3.0"
    assert row["url"] == "https://images.da.net/art.jpg"
    assert row["width"] == "800" and row["height"] == "600"
    assert row["title"] == 'My "Art"'
    (clean,) = _clean(spark, spec, "https://x.test/page", html)
    assert clean["title"] == "My 'Art'"
    assert row["creator"] == "Bob"
    assert row["creator_url"] == "https://bob.deviantart.com"
    assert row["foreign_landing_url"] == (
        "https://www.deviantart.com/bob/art/123"
    )
    assert row["foreign_identifier"] == "987"
    assert json.loads(row["meta_data"]) == {"description": "A nice piece"}
    assert row["watermarked"] == "f"
    assert row["provider"] == "deviantart"
    assert row["source"] == "commoncrawl"


def test_deviantart_drop_paths(spark):
    spec = CC_SCRAPERS["deviantart"]()
    base = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by/2.0/">CC</a>
    <div class="dev-page-view view-mode-normal" gmi-deviationid="1"></div>
    <meta property="og:image" content="{img}">"""
    # placeholder logo → no image → dropped (DeviantArt.py:64-66)
    assert _run(
        spark, spec, "u",
        base.format(img="https://x/main/logo/card_black_large.png"),
    ) == []
    # no CC license anchor → dropped
    assert _run(
        spark, spec, "u",
        '<meta property="og:image" content="https://x/i.png">'
        '<div class="dev-page-view view-mode-normal" gmi-deviationid="1">'
        "</div>",
    ) == []
    # non-CC license host → dropped (Provider.py:183-186)
    assert _run(
        spark, spec, "u",
        base.format(img="https://x/i.png").replace(
            "creativecommons.org", "example.org"
        ),
    ) == []


def test_animaldiversityweb_meta_pairs_and_tags(spark):
    html = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by-nc-sa/3.0/">CC</a>
    <img class="resource" src="/collections/x.jpg" data-width="500"
         data-height="400" alt="a skull">
    <meta property="og:title" content="Vulpes vulpes">
    <meta property="og:url" content="https://animaldiversity.org/v/1/">
    <section class="metadata">
      <h3>Body Mass</h3><p>5 kg</p>
      <h3>Conditions of Use</h3><p>do not use</p>
    </section>
    <ul class="keywords"><li>mammal::fox</li></ul>
    <ul class="keywords last"><li>carnivore</li></ul>"""
    (row,) = _run(
        spark, CC_SCRAPERS["animaldiversityweb"](), "https://x/p", html
    )
    assert row["url"] == "https://animaldiversity.org/collections/x.jpg"
    assert row["foreign_identifier"] == row["url"]
    assert row["width"] == "500" and row["height"] == "400"
    assert row["title"] == "Vulpes vulpes"
    meta = json.loads(row["meta_data"])
    assert meta["body_mass"] == "5 kg"
    assert meta["image_alt_text"] == "a skull"
    assert "conditions_of_use" not in meta
    assert json.loads(row["tags"]) == ["carnivore", "fox", "mammal"]


def test_behance_explodes_project_modules(spark):
    html = """
    <div id="project-block-copyright">
      <a href="https://creativecommons.org/licenses/by-nd/4.0/">cc</a></div>
    <meta property="og:title" content="Poster Set">
    <meta property="og:url" content="https://www.behance.net/gallery/9">
    <meta property="og:owners" content="Ana Lima">
    <meta property="og:description" content="posters">
    <a class="object-tag" href="#">print</a>
    <a class="ProjectTags-tagLink-Hh_" href="#">design</a>
    <div id="project-modules">
      <img src="https://mir.behance.net/a.png">
      <img src="https://mir.behance.net/img/site/blank.png">
      <img src="https://mir.behance.net/b.png">
    </div>"""
    rows = _run(spark, CC_SCRAPERS["behance"](), "https://x/p", html)
    assert [r["url"] for r in rows] == [
        "https://mir.behance.net/a.png", "https://mir.behance.net/b.png"
    ]
    r = rows[0]
    assert r["license"] == "by-nd" and r["license_version"] == "4.0"
    assert r["creator"] == "Ana Lima"
    assert r["title"] == "Poster Set"
    assert json.loads(r["tags"]) == ["design", "print"]
    meta = json.loads(r["meta_data"])
    assert meta["set"] == "https://www.behance.net/gallery/9"
    assert meta["description"] == "posters"


def test_backslash_escaped_once_like_api_providers(spark):
    """Specs only map captures; normalize_image_batch is the one place
    strings are sanitized, so a CC title escapes a backslash exactly
    once — the same bytes a flickr record with that title gets."""
    html = r"""
    <div id="project-block-copyright">
      <a href="https://creativecommons.org/licenses/by/4.0/">cc</a></div>
    <meta property="og:title" content="a\b c">
    <meta property="og:description" content="x\y">
    <div id="project-modules"><img src="https://mir.behance.net/a.png">
    </div>"""
    (cc,) = _clean(spark, CC_SCRAPERS["behance"](), "https://x/p", html)
    record = json.dumps({
        "id": "1", "owner": "o", "title": "a\\b c", "license": "4",
        "url_m": "https://f/1.jpg",
    })
    flickr, _ = ingest_provider_batch(
        spark.createDataFrame([(record,)], "json string"), flickr_spec()
    )
    (fl,) = flickr.collect()
    assert cc["title"] == fl["title"] == "a\\\\b c"
    assert cc["meta_data"]["description"] == "x\\\\y"


def test_capl_single_image(spark):
    html = """
    <div class="singleimage">
      <a rel="license"
         href="https://creativecommons.org/licenses/by-nc-sa/3.0/">cc</a>
      <span class="alternateImages">
        <span class="directLink"><a href="/images/m/apple.jpg">direct</a>
        </span></span>
      <div class="line"><span lang="de">der Apfel</span></div>
      <div class="line"><span lang="en">the apple</span></div>
    </div>"""
    (row,) = _run(
        spark, CC_SCRAPERS["capl"](),
        "http://capl.washjeff.edu/browseresults.php?img=5&size=m", html,
    )
    assert row["url"] == "/images/l/apple.jpg"
    assert row["thumbnail"] == "/images/m/apple.jpg"
    assert row["foreign_identifier"] == row["url"]
    assert row["foreign_landing_url"] == (
        "http://capl.washjeff.edu/browseresults.php?img=5&size=l"
    )
    assert row["title"] == "the apple"
    assert row["creator"] == "Michael R. Shaughnessy"


def test_digitaltmuseum_items(spark):
    html = """
    <meta property="og:url" content="https://digitaltmuseum.org/a/55">
    <div class="article__title"><h1>Old Boat</h1></div>
    <div class="article__leadtext"><p>A boat.  Expand text</p></div>
    <ul>
    <li class="media__item">
      <a class="media__license license"
         href="https://creativecommons.org/licenses/by-sa/4.0/">cc</a>
      <a class="module__media  media--image" href="/media/1"></a>
      <img src="https://dms.dimu.org/image/1?dimension=800x800" alt="boat">
      <i class="media__credit">Fotograf: Nils Olsen</i>
    </li>
    <li class="media__item">
      <img src="https://dms.dimu.org/image/2">
    </li>
    </ul>"""
    spec = CC_SCRAPERS["digitaltmuseum"]()
    rows = _run(spark, spec, "https://x/p", html)
    # second item has no license → dropped (DigitaltMuseum.py:117-119)
    assert len(rows) == 1
    r = rows[0]
    assert r["license"] == "by-sa" and r["license_version"] == "4.0"
    assert r["url"] == "https://dms.dimu.org/image/1?dimension=800x800"
    assert r["foreign_landing_url"] == "https://digitaltmuseum.org/media/1"
    assert r["title"] == "Old Boat"
    assert r["creator"] == " Nils Olsen"
    (clean,) = _clean(spark, spec, "https://x/p", html)
    assert clean["creator"] == "Nils Olsen"
    meta = json.loads(r["meta_data"])
    assert meta["description"] == "A boat. "
    assert clean["meta_data"]["description"] == "A boat."
    assert meta["image_alt_text"] == "boat"
    assert meta["set"] == "https://digitaltmuseum.org/a/55"


def test_eol_data_object_page(spark):
    html = """
    <meta name="keywords" content="fish, reef">
    <meta property="og:title" content="Clownfish - EOL">
    <meta property="og:url" content="https://eol.org/data_objects/456">
    <div class="article overview"><div class="copy">Bright fish. More
    text.</div></div>
    <div class="media"><a href="https://media.eol.org/content/f.jpg">i</a>
    </div>
    <div class="article source">
      <p title="Rights holder">© Jane Reef</p>
      <a href="https://creativecommons.org/licenses/by-nc/2.0/">license</a>
    </div>"""
    (row,) = _run(
        spark, CC_SCRAPERS["eol"](),
        "https://eol.org/data_objects/456", html,
    )
    assert row["license"] == "by-nc" and row["license_version"] == "2.0"
    assert row["url"] == "https://media.eol.org/content/f.jpg"
    assert row["foreign_landing_url"] == "https://eol.org/data_objects/456"
    assert row["foreign_identifier"] == "456"
    assert row["title"] == "Clownfish"
    assert json.loads(row["tags"]) == ["fish", "reef"]
    meta = json.loads(row["meta_data"])
    assert meta["rights_holder"] == "© Jane Reef"
    assert meta["description"] == "Bright fish"


def test_floraon_photos(spark):
    html = """
    <span class="especie">Quercus Suber</span>
    <div id="fotochooser">
      <div class="thumbnail">
        <a rel="license"
           href="https://creativecommons.org/licenses/by-nc/4.0/">cc</a>
        <img class="image" src="fotos/qs1.jpg" alt="bark">
        <input name="wid" value="640"><input name="hei" value="480">
        <input name="aut" value="J. Silva">
      </div>
      <div class="thumbnail">
        <a rel="license" href="https://example.org/no-cc">x</a>
        <img class="image" src="fotos/qs2.jpg">
      </div>
    </div>"""
    rows = _run(
        spark, CC_SCRAPERS["floraon"](), "https://flora-on.pt/#qs", html
    )
    assert len(rows) == 1  # non-CC photo dropped (FloraOn.py:56-58)
    r = rows[0]
    assert r["url"] == "https://flora-on.pt/fotos/qs1.jpg"
    assert r["width"] == "640" and r["height"] == "480"
    assert r["creator"] == "J. Silva"
    assert r["title"] == "quercus suber"
    assert r["watermarked"] == "t"
    assert r["foreign_landing_url"] == "https://flora-on.pt/#qs"
    assert json.loads(r["meta_data"]) == {"image_alt_text": "bark"}


def test_geographorguk_full_row(spark):
    html = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by-sa/2.0/">cc</a>
    <div id="mainphoto"><img src="https://s0.geograph.org.uk/p/9.jpg"
         width="640" height="480"></div>
    <strong property="dct:title">Old Bridge</strong>
    <a rel="author" href="/profile/77">Pat Moore</a>
    <span class="tag">bridge</span><span class="tag">river</span>
    <abbr class="latitude" title="51.5"></abbr>
    <abbr class="longitude" title="-0.1"></abbr>
    <span itemprop="exifData">Taken: 2 May 2019</span>
    <div itemprop="description">A stone   bridge.</div>
    <link rel="canonical" href="https://www.geograph.org.uk/photo/9">"""
    (row,) = _run(
        spark, CC_SCRAPERS["geographorguk"](), "https://x/p", html
    )
    assert row["license"] == "by-sa" and row["license_version"] == "2.0"
    assert row["url"] == "https://s0.geograph.org.uk/p/9.jpg"
    assert row["width"] == "640" and row["height"] == "480"
    assert row["title"] == "Old Bridge"
    assert row["creator"] == "Pat Moore"
    assert row["creator_url"] == "https://www.geograph.org.uk/profile/77"
    assert row["foreign_landing_url"] == (
        "https://www.geograph.org.uk/photo/9"
    )
    assert row["foreign_identifier"] == "9"
    assert json.loads(row["tags"]) == ["bridge", "river"]
    meta = json.loads(row["meta_data"])
    assert meta == {
        "latitude": "51.5", "longitude": "-0.1",
        "date_taken": "Taken: 2 May 2019",
        "description": "A stone bridge.",
    }


def test_iha_slides(spark):
    html = """
    <meta property="og:url" content="https://www.iha.com/h/42">
    <meta name="keywords" content="villa, pool">
    <div class="ph">
      <span class="swiper-slide" about="https://img.iha.com/4200/1.jpeg">
        <a rel="license"
           href="https://creativecommons.org/licenses/by-nd/3.0/">cc</a>
        <img src="https://img.iha.com/s/4200/1.jpeg" alt="front"
             width="300" height="200" title="Villa front">
      </span>
      <span class="swiper-slide">
        <img src="https://img.iha.com/s/4200/2.jpeg">
      </span>
    </div>"""
    rows = _run(spark, CC_SCRAPERS["iha"](), "https://x/p", html)
    assert len(rows) == 1  # licenseless slide dropped (IHA.py:73-75)
    r = rows[0]
    assert r["url"] == "https://img.iha.com/4200/1.jpeg"
    assert r["foreign_identifier"] == r["url"]
    assert r["thumbnail"] == "https://img.iha.com/s/4200/1.jpeg"
    assert r["width"] == "300" and r["height"] == "200"
    assert r["title"] == "Villa front"
    assert r["foreign_landing_url"] == "https://www.iha.com/h/42"
    assert r["watermarked"] == "t"
    meta = json.loads(r["meta_data"])
    assert meta == {"image_alt_text": "front", "tags": "villa, pool"}


def test_mccordmuseum_title_id_split(spark):
    html = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by-nc-nd/2.5/">cc</a>
    <div class="image"><img src="/ObjView/m990.jpg" width="531.0"
         height="768" alt="portrait"></div>
    <h1 class="vo">M990.772.1 | Winter Scene</h1>
    <a title="All tagged images" href="#">painting</a>
    <div id="etiquette">
      <a href="search.php?tablename=artist&id=3">James Duncan (1806-1881)
      </a></div>
    <div id="descriptions">Oil on canvas.</div>"""
    spec = CC_SCRAPERS["mccordmuseum"]()
    (row,) = _run(spark, spec, "https://x/p", html)
    assert row["license"] == "by-nc-nd" and row["license_version"] == "2.5"
    assert row["url"] == "http://www.mccord-museum.qc.ca/ObjView/m990.jpg"
    assert row["thumbnail"] == (
        "http://www.mccord-museum.qc.ca/ListView/m990.jpg"
    )
    assert row["width"] == "531" and row["height"] == "768"
    assert row["title"] == " Winter Scene"
    (clean,) = _clean(spark, spec, "https://x/p", html)
    assert clean["title"] == "Winter Scene"
    assert row["foreign_identifier"] == "M990.772.1"
    assert row["creator"] == "James Duncan"
    assert row["watermarked"] == "t"
    assert json.loads(row["tags"]) == ["painting"]


def test_museumvictoria_full_row(spark):
    html = """
    <span class="licence"><a
      href="https://creativecommons.org/licenses/by/4.0/">CC BY</a></span>
    <meta property="og:image"
          content="https://mv.imgs/items/5-medium.jpg">
    <meta property="og:image:width" content="1200">
    <meta property="og:image:height" content="900">
    <meta property="og:title" content="Brass Telescope">
    <div class="creators">Photographer: Lee Wong</div>
    <div class="summary"><p>A telescope.</p></div>"""
    (row,) = _run(
        spark, CC_SCRAPERS["museumvictoria"](),
        "https://collections.museumvictoria.com.au/items/12345", html,
    )
    assert row["license"] == "by" and row["license_version"] == "4.0"
    assert row["url"] == "https://mv.imgs/items/5-medium.jpg"
    assert row["thumbnail"] == "https://mv.imgs/items/5-thumbnail.jpg"
    assert row["width"] == "1200" and row["height"] == "900"
    assert row["title"] == "Brass Telescope"
    assert row["creator"] == "Lee Wong"
    assert row["foreign_identifier"] == "12345"
    assert json.loads(row["meta_data"]) == {"description": "A telescope."}


def test_sciencemuseum_badge_license_and_fallback_imgs(spark):
    head = """
    <div class="cite__method"><img
      src="https://sm.cdn/badges/cc-by-nc-sa.svg"></div>
    <meta property="og:url" content="https://collection.smg.uk/obj/8">
    <meta property="og:title" content="Difference Engine">
    <meta property="og:description" content="A calculating machine">
    <dl class="record-top__dl fact-maker"><dt>Maker</dt>
      <dd><a href="/people/cp1">Charles Babbage</a></dd></dl>"""
    carousel = head + """
    <img class="carousel__image" src="https://sm.cdn/i/1.jpg">
    <img class="carousel__image" data-flickity-lazyload="https://sm.cdn/i/2.jpg">"""
    rows = _run(
        spark, CC_SCRAPERS["sciencemuseum"](), "https://x/p", carousel
    )
    assert [r["url"] for r in rows] == [
        "https://sm.cdn/i/1.jpg", "https://sm.cdn/i/2.jpg"
    ]
    r = rows[0]
    assert r["license"] == "by-nc-sa"
    assert r["license_version"] is None
    assert r["creator"] == "Charles Babbage"
    assert r["creator_url"] == "/people/cp1"
    assert r["title"] == "Difference Engine"
    # no carousel → single_image fallback (ScienceMuseum.py:118-120)
    single = head + '<img class="single_image" src="https://sm.cdn/s.jpg">'
    rows = _run(
        spark, CC_SCRAPERS["sciencemuseum"](), "https://x/p", single
    )
    assert [r["url"] for r in rows] == ["https://sm.cdn/s.jpg"]
    # 'unknown' maker suppressed (ScienceMuseum.py:90-92)
    anon = carousel.replace("Charles Babbage", "Unknown")
    rows = _run(spark, CC_SCRAPERS["sciencemuseum"](), "https://x/p", anon)
    assert rows[0]["creator"] is None


def test_svgsilh_cards_cc0_only(spark):
    html = """
    <meta property="og:image" content="https://svgsilh.com/png/1-x.png">
    <meta property="og:description" content="Cat Silhouette - Free (svg)">
    <div class="card mb-3 box-shadow h-100">
      <a rel="license"
         href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>
      <a href="/image/11.html"><img src="/svg/11.svg"></a>
      <p property="dct:title"><a>cat</a> <a>animal</a></p>
    </div>
    <div class="card mb-3 box-shadow h-100">
      <a rel="license"
         href="https://creativecommons.org/licenses/by/2.0/">by</a>
      <a href="/image/12.html"><img src="/svg/12.svg"></a>
    </div>"""
    rows = _run(spark, CC_SCRAPERS["svgsilh"](), "https://x/p", html)
    assert len(rows) == 1  # non-cc0 card dropped (SVGSilh.py:63-65)
    r = rows[0]
    assert r["license"] == "cc0" and r["license_version"] == "1.0"
    assert r["url"] == "https://svgsilh.com/png/11.png"
    assert r["foreign_landing_url"] == "https://svgsilh.com/image/11.html"
    assert r["title"] == "Cat Silhouette"
    assert json.loads(r["tags"]) == ["animal", "cat"]
    assert json.loads(r["meta_data"]) == {
        "svg": "https://svgsilh.com/svg/11.svg"
    }


def test_thorvaldsensmuseum_about_anchor(spark):
    html = """
    <a rel="license"
       href="https://creativecommons.org/publicdomain/zero/1.0/"
       about="https://tm.dk/media/large/a123.jpg">cc0</a>
    <img src="https://tm.dk/media/large/a123.jpg" width="900" height="700"
         alt="Jason with the Golden Fleece">
    <img src="https://tm.dk/other.jpg" width="10" height="10" alt="no">
    <div class="artists">Bertel Thorvaldsen
      <a class="standard" href="/people/bt">profile</a></div>"""
    (row,) = _run(
        spark, CC_SCRAPERS["thorvaldsensmuseum"](),
        "https://tm.dk/work/a123", html,
    )
    assert row["license"] == "cc0"
    assert row["url"] == "https://tm.dk/media/large/a123.jpg"
    assert row["thumbnail"] == "https://tm.dk/media/small/a123.jpg"
    assert row["width"] == "900" and row["height"] == "700"
    assert row["title"] == "Jason with the Golden Fleece"
    assert row["creator"] == "Bertel Thorvaldsen"
    assert row["creator_url"] == "/people/bt"
    assert row["foreign_landing_url"] == "https://tm.dk/work/a123"


def test_worms_image_page_and_gate(spark):
    html = """
    <div id="photogallery_share"
         data-url="http://www.marinespecies.org/photogallery.php?p=image&pic=31459">
    </div>
    <div id="photogallery_resized_img">
      <meta itemprop="license"
            content="https://creativecommons.org/licenses/by-nc-sa/4.0/">
      <img src="http://wrm.org/resized/31459.jpg" width="800" height="533"
           title="Amphipod specimen">
    </div>
    <span class="photogallery_caption photogallery_descr"><span
      class="photogallery_caption photogallery_text">Deep sea.</span></span>
    <span class="photogallery_caption photogallery_author"><a
      href="/aphia.php?id=9">A. Researcher</a></span>"""
    url = "http://www.marinespecies.org/photogallery.php?p=image&pic=31459"
    (row,) = _run(spark, CC_SCRAPERS["worms"](), url, html)
    assert row["license"] == "by-nc-sa" and row["license_version"] == "4.0"
    assert row["url"] == "http://wrm.org/resized/31459.jpg"
    assert row["thumbnail"] == "http://wrm.org/thumbs/31459.jpg"
    assert row["width"] == "800" and row["height"] == "533"
    assert row["title"] == "Amphipod specimen"
    assert row["foreign_identifier"] == "31459"
    assert row["creator"] == "A. Researcher"
    assert row["creator_url"] == "/aphia.php?id=9"
    assert json.loads(row["meta_data"]) == {"description": "Deep sea."}
    # taxonomy pages carry no verifiable license (WoRMS.py:157-160)
    taxurl = "http://www.marinespecies.org/photogallery.php?p=taxdetails"
    assert _run(spark, CC_SCRAPERS["worms"](), taxurl, html) == []


def test_cc_scrape_routes_by_registrable_host(spark):
    """pipelines.cc_scrape: a page reaches exactly the spec whose
    domain matches its registrable host; unknown domains drop."""
    from cccatalog_spark.pipelines import cc_scrape

    da = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by/2.0/">c</a>
    <meta property="og:image" content="https://x/i.png">
    <div class="dev-page-view view-mode-normal" gmi-deviationid="7"></div>
    """
    geo = """
    <a rel="license"
       href="https://creativecommons.org/licenses/by-sa/2.0/">c</a>
    <div id="mainphoto"><img src="https://s0.geo/p/3.jpg"></div>
    <link rel="canonical" href="https://www.geograph.org.uk/photo/3">
    """
    pages = spark.createDataFrame(
        [
            ("https://www.deviantart.com/a/art/1", da),
            ("https://sub.deviantart.com/b/art/2", da),  # subdomain routes
            ("https://www.geograph.org.uk/photo/3", geo),
            ("https://unknown.example.org/x", da),       # no spec -> drops
        ],
        "url string, html string",
    )
    rows = cc_scrape(pages).select("provider", "foreign_identifier").collect()
    got = sorted((r.provider, r.foreign_identifier) for r in rows)
    assert got == [
        ("deviantart", "7"), ("deviantart", "7"), ("geographorguk", "3")
    ]


def test_capl_grid_path(spark):
    """The browse-grid shape (CAPL.py:128-205): per-card license,
    lightbox large-image href, 'l'-anchor landing, lang=en title."""
    from cccatalog_spark.operators.provider_specs_cc import capl_grid_spec

    html = """
    <div class="light item">
      <div class="image">
        <a rel="license"
           href="https://creativecommons.org/licenses/by-nc-sa/3.0/">c</a>
        <a data-rel="lightbox[results]" href="images/m/pear.jpg">i</a>
        <span class="imgTxt">
          <a href="detail.php?img=8&size=s">s</a>
          <a href="detail.php?img=8&size=l">l</a>
        </span>
      </div>
      <div class="line"><span lang="de">die Birne</span></div>
      <div class="line"><span lang="en">the pear</span></div>
    </div>
    <div class="dark item">
      <div class="image">
        <a data-rel="lightbox[results]" href="images/m/plum.jpg">i</a>
      </div>
      <div class="line"><span lang="en">the plum</span></div>
    </div>"""
    rows = _run(
        spark, capl_grid_spec(),
        "http://capl.washjeff.edu/browseresults.php?c=9", html,
    )
    assert len(rows) == 1  # licenseless card dropped (CAPL.py:148-150)
    r = rows[0]
    assert r["url"] == "http://capl.washjeff.edu/images/l/pear.jpg"
    assert r["thumbnail"] == "http://capl.washjeff.edu/images/m/pear.jpg"
    assert r["foreign_landing_url"] == (
        "http://capl.washjeff.edu/detail.php?img=8&size=l"
    )
    assert r["title"] == "the pear"
    assert r["creator"] == "Michael R. Shaughnessy"
    assert r["license"] == "by-nc-sa" and r["license_version"] == "3.0"


def test_museumvictoria_gallery_path(spark):
    """The >1-thumbnail shape (MuseumVictoria.py:156-183): one row per
    thumbnail, -thumbnail -> -medium url doubling as foreign id."""
    from cccatalog_spark.operators.provider_specs_cc import (
        museumvictoria_gallery_spec,
    )

    html = """
    <span class="licence"><a
      href="https://creativecommons.org/licenses/by/4.0/">CC</a></span>
    <meta property="og:title" content="Engine Models">
    <div class="thumbnail"><img src="/img/77-thumbnail.jpg" alt="side">
    </div>
    <div class="thumbnail"><img src="/img/78-thumbnail.jpg"></div>"""
    rows = _run(
        spark, museumvictoria_gallery_spec(),
        "https://collections.museumvictoria.com.au/items/77", html,
    )
    assert [r["url"] for r in rows] == [
        "https://collections.museumvictoria.com.au/img/77-medium.jpg",
        "https://collections.museumvictoria.com.au/img/78-medium.jpg",
    ]
    r = rows[0]
    assert r["thumbnail"] == (
        "https://collections.museumvictoria.com.au/img/77-thumbnail.jpg"
    )
    assert r["foreign_identifier"] == r["url"]
    assert r["title"] == "Engine Models"
    assert r["license"] == "by" and r["license_version"] == "4.0"
    assert json.loads(r["meta_data"]) == {"image_alt_text": "side"}
    assert rows[1]["meta_data"] is None


def test_digitaltmuseum_metadata_section_pairs(spark):
    """The 'Metadata' section's li rows split on 2+-space runs into
    key/value pairs (DigitaltMuseum.py:78-91); other sections are
    ignored."""
    html = """
    <div class="article__title"><h1>Boat</h1></div>
    <section class="article__metadata"><h2>Metadata</h2>
      <ul><li>Produced   1905</li>
          <li>Material   oak, iron</li>
          <li>nodelimiter</li></ul></section>
    <section class="article__metadata"><h2>Other</h2>
      <ul><li>Skip   this</li></ul></section>
    <ul><li class="media__item">
      <a class="media__license"
         href="https://creativecommons.org/licenses/by/4.0/">c</a>
      <img src="https://dms.dimu.org/image/9">
    </li></ul>"""
    (row,) = _run(
        spark, CC_SCRAPERS["digitaltmuseum"](), "https://x/p", html
    )
    meta = json.loads(row["meta_data"])
    assert meta["produced"] == "1905"
    assert meta["material"] == "oak, iron"
    assert "skip" not in meta and "nodelimiter" not in meta


def test_sciencemuseum_detail_and_timeline_meta(spark):
    html = """
    <div class="cite__method"><img src="https://sm.cdn/b/cc-by.svg"></div>
    <meta property="og:description" content="A machine">
    <dl class="record-top__dl fact-Made"><dt>Made:</dt>
      <dd>1832 in London</dd></dl>
    <dl class="record-details record-details--top"><dt>Object Number:</dt>
      <dd>1862-89</dd></dl>
    <dl class="record-details"><dt>Materials</dt><dd>brass, steel</dd></dl>
    <img class="single_image" src="https://sm.cdn/s.jpg">"""
    (row,) = _run(
        spark, CC_SCRAPERS["sciencemuseum"](), "https://x/p", html
    )
    meta = json.loads(row["meta_data"])
    assert meta["object_number"] == "1862-89"
    assert meta["materials"] == "brass, steel"
    assert meta["date"] == "1832"
    assert meta["geography"] == "London"
    assert meta["description"] == "A machine"
