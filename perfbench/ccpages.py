"""Seeded Common Crawl pages for the ``catalog_refresh`` workload.

One template per ``CC_SCRAPERS`` site, shaped like the pages each
site's scraper spec was written against, with the ids, titles and
image paths varied per page. Every template states what the pipeline
must make of it, so the output checks need no reference run:

- ``rows``: rows the page yields after ``normalize`` (clean rows);
- ``cc_anchors``: ``<a href>`` links to creativecommons.org, i.e. the
  rows ``extract_cc_links`` emits for the page.

Pages on hosts no spec routes to carry only filler and, sometimes, a
license anchor; decoy hosts that merely contain a site's name check
the registrable-host routing.
"""

from __future__ import annotations

import random

CC = "https://creativecommons.org"

_WORDS = (
    "river stone bridge harbor meadow lantern orchard granite willow "
    "copper falcon maple canyon glacier ember prairie cobalt tundra "
    "saffron quartz lagoon thistle basalt heron juniper marble"
).split()


def _title(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS)}"


def _deviantart(n, rng):
    t = _title(rng)
    url = f"https://www.deviantart.com/artist{n % 97}/art/{n}"
    if n % 5 == 0:
        # no license anchor: the spec's drop path
        return url, (
            f'<meta property="og:image" content="https://images.da.net/{n}.png">'
            f'<div class="dev-page-view view-mode-normal" '
            f'gmi-deviationid="{n}"></div>'
        ), 0, 0
    return url, f"""<html><head>
<meta property="og:image" content="https://images.da.net/{n}.jpg">
<meta property="og:image:width" content="800">
<meta property="og:image:height" content="600">
<meta property="og:title" content="{t}">
<meta property="og:url" content="{url}">
</head><body>
<a rel="license" href="{CC}/licenses/by-nc-sa/3.0/">CC</a>
<small class="author">by <a class="u username"
  href="https://artist{n % 97}.deviantart.com">Artist {n % 97}</a></small>
<div class="text block">A   piece about {t}</div>
<div class="dev-page-view view-mode-normal" gmi-deviationid="{n}"></div>
""", 1, 1


def _animaldiversityweb(n, rng):
    t = _title(rng)
    return f"https://animaldiversity.org/accounts/Species_{n}/", f"""
<a rel="license" href="{CC}/licenses/by-nc-sa/3.0/">C</a>
<img class="resource" src="/collections/{n}.jpg" data-width="500"
     data-height="400" alt="a skull">
<meta property="og:title" content="{t}">
<meta property="og:url" content="https://animaldiversity.org/v/{n}/">
<section class="metadata">
  <h3>Body Mass</h3><p>{n % 40 + 1} kg</p>
  <h3>Conditions of Use</h3><p>do not use</p>
</section>
<ul class="keywords"><li>mammal::fox</li></ul>
<ul class="keywords last"><li>carnivore</li></ul>
""", 1, 1


def _behance(n, rng):
    t = _title(rng)
    url = f"https://www.behance.net/gallery/{n}"
    return url, f"""<div id="project-block-copyright"><a
  href="{CC}/licenses/by-nd/4.0/">c</a></div>
<meta property="og:title" content="{t}">
<meta property="og:url" content="{url}">
<meta property="og:owners" content="Owner {n % 53}">
<meta property="og:description" content="posters">
<a class="object-tag" href="#">print</a>
<a class="ProjectTags-tagLink-Hh_" href="#">design</a>
<div id="project-modules">
  <img src="https://mir.behance.net/{n}a.png">
  <img src="https://mir.behance.net/img/site/blank.png">
  <img src="https://mir.behance.net/{n}b.png">
</div>
""", 2, 1


def _capl(n, rng):
    return f"http://capl.washjeff.edu/browseresults.php?img={n}&size=m", f"""
<div class="singleimage">
  <a rel="license" href="{CC}/licenses/by-nc-sa/3.0/">c</a>
  <span class="alternateImages"><span class="directLink">
    <a href="/images/m/img{n}.jpg">direct</a></span></span>
  <div class="line"><span lang="de">der Apfel {n}</span></div>
  <div class="line"><span lang="en">the apple {n}</span></div>
</div>
""", 1, 1


def _digitaltmuseum(n, rng):
    t = _title(rng)
    return f"https://digitaltmuseum.org/0210{n}/object", f"""
<meta property="og:url" content="https://digitaltmuseum.org/a/{n}">
<div class="article__title"><h1>{t}</h1></div>
<div class="article__leadtext"><p>An object.  Expand text</p></div>
<ul><li class="media__item">
  <a class="media__license license" href="{CC}/licenses/by-sa/4.0/">c</a>
  <a class="module__media  media--image" href="/media/{n}"></a>
  <img src="https://dms.dimu.org/image/{n}?dimension=800x800" alt="boat">
  <i class="media__credit">Fotograf: Nils Olsen</i>
</li>
<li class="media__item"><img src="https://dms.dimu.org/image/x{n}"></li></ul>
""", 1, 1


def _eol(n, rng):
    t = _title(rng)
    url = f"https://eol.org/data_objects/{n}"
    return url, f"""<meta name="keywords" content="fish, reef">
<meta property="og:title" content="{t} - EOL">
<meta property="og:url" content="{url}">
<div class="article overview"><div class="copy">Bright fish.
More text.</div></div>
<div class="media"><a href="https://media.eol.org/content/{n}.jpg">i</a></div>
<div class="article source">
  <p title="Rights holder">Jane Reef</p>
  <a href="{CC}/licenses/by-nc/2.0/">l</a></div>
""", 1, 1


def _floraon(n, rng):
    return f"https://flora-on.pt/#sp{n}", f"""
<span class="especie">Quercus Suber{n}</span>
<div id="fotochooser">
  <div class="thumbnail">
    <a rel="license" href="{CC}/licenses/by-nc/4.0/">c</a>
    <img class="image" src="fotos/sp{n}a.jpg" alt="bark">
    <input name="wid" value="640"><input name="hei" value="480">
    <input name="aut" value="J. Silva">
  </div>
  <div class="thumbnail">
    <a rel="license" href="https://example.org/no-cc">x</a>
    <img class="image" src="fotos/sp{n}b.jpg">
  </div>
</div>
""", 1, 1


def _geographorguk(n, rng):
    t = _title(rng)
    url = f"https://www.geograph.org.uk/photo/{n}"
    return url, f"""
<a rel="license" href="{CC}/licenses/by-sa/2.0/">c</a>
<div id="mainphoto"><img src="https://s0.geograph.org.uk/p/{n}.jpg"
  width="640" height="480"></div>
<strong property="dct:title">{t}</strong>
<a rel="author" href="/profile/{n % 89}">Pat Moore</a>
<span class="tag">bridge</span><span class="tag">river</span>
<abbr class="latitude" title="51.5"></abbr>
<abbr class="longitude" title="-0.1"></abbr>
<span itemprop="exifData">Taken: 2 May 2019</span>
<div itemprop="description">A stone   bridge.</div>
<link rel="canonical" href="{url}">
""", 1, 1


def _iha(n, rng):
    return f"https://www.iha.com/holiday/{n}", f"""
<meta property="og:url" content="https://www.iha.com/h/{n}">
<meta name="keywords" content="villa, pool">
<div class="ph">
  <span class="swiper-slide" about="https://img.iha.com/{n}/1.jpeg">
    <a rel="license" href="{CC}/licenses/by-nd/3.0/">c</a>
    <img src="https://img.iha.com/s/{n}/1.jpeg" alt="front"
         width="300" height="200" title="Villa front {n}">
  </span>
  <span class="swiper-slide"><img src="https://img.iha.com/s/{n}/2.jpeg"></span>
</div>
""", 1, 1


def _mccordmuseum(n, rng):
    t = _title(rng)
    return (
        f"http://www.mccord-museum.qc.ca/en/collection/artifacts/M{n}",
        f"""
<a rel="license" href="{CC}/licenses/by-nc-nd/2.5/">c</a>
<div class="image"><img src="/ObjView/m{n}.jpg" width="531.0"
     height="768" alt="portrait"></div>
<h1 class="vo">M{n}.772.1 | {t}</h1>
<a title="All tagged images" href="#">painting</a>
<div id="etiquette">
  <a href="search.php?tablename=artist&id=3">James Duncan
  (1806-1881)</a></div>
<div id="descriptions">Oil on canvas.</div>
""", 1, 1)


def _museumvictoria(n, rng):
    t = _title(rng)
    return f"https://collections.museumvictoria.com.au/items/{n}", f"""
<span class="licence"><a href="{CC}/licenses/by/4.0/">CC</a></span>
<meta property="og:image" content="https://mv.imgs/items/{n}-medium.jpg">
<meta property="og:image:width" content="1200">
<meta property="og:image:height" content="900">
<meta property="og:title" content="{t}">
<div class="creators">Photographer: Lee Wong</div>
<div class="summary"><p>A telescope.</p></div>
""", 1, 1


def _sciencemuseum(n, rng):
    t = _title(rng)
    return f"https://collection.sciencemuseum.org.uk/objects/co{n}", f"""
<div class="cite__method"><img src="https://sm.cdn/badges/cc-by-nc-sa.svg"></div>
<meta property="og:url" content="https://collection.smg.uk/obj/{n}">
<meta property="og:title" content="{t}">
<meta property="og:description" content="A calculating machine">
<dl class="record-top__dl fact-maker"><dt>Maker</dt>
  <dd><a href="/people/cp{n % 31}">Charles Babbage</a></dd></dl>
<img class="carousel__image" src="https://sm.cdn/i/{n}a.jpg">
<img class="carousel__image" data-flickity-lazyload="https://sm.cdn/i/{n}b.jpg">
""", 2, 0


def _svgsilh(n, rng):
    return f"https://svgsilh.com/tag/t{n}.html", f"""
<meta property="og:image" content="https://svgsilh.com/png/1-x.png">
<meta property="og:description" content="Cat Silhouette - Free (svg)">
<div class="card mb-3 box-shadow h-100">
  <a rel="license" href="{CC}/publicdomain/zero/1.0/">z</a>
  <a href="/image/{n}.html"><img src="/svg/{n}.svg"></a>
  <p property="dct:title"><a>cat</a> <a>animal</a></p>
</div>
<div class="card mb-3 box-shadow h-100">
  <a rel="license" href="{CC}/licenses/by/2.0/">b</a>
  <a href="/image/{n}x.html"><img src="/svg/{n}x.svg"></a>
</div>
""", 1, 2


def _thorvaldsensmuseum(n, rng):
    t = _title(rng)
    media = "https://thorvaldsensmuseum.dk/media"
    return f"https://thorvaldsensmuseum.dk/work/a{n}", f"""
<a rel="license" href="{CC}/publicdomain/zero/1.0/"
   about="{media}/large/a{n}.jpg">cc0</a>
<img src="{media}/large/a{n}.jpg" width="900" height="700" alt="{t}">
<img src="{media}/other.jpg" width="10" height="10" alt="no">
<div class="artists">Bertel Thorvaldsen
  <a class="standard" href="/people/bt">profile</a></div>
""", 1, 1


def _worms(n, rng):
    url = f"http://www.marinespecies.org/photogallery.php?p=image&pic={n}"
    return url, f"""
<div id="photogallery_share" data-url="{url}"></div>
<div id="photogallery_resized_img">
  <meta itemprop="license" content="{CC}/licenses/by-nc-sa/4.0/">
  <img src="http://wrm.org/resized/{n}.jpg" width="800" height="533"
       title="Amphipod specimen {n}">
</div>
<span class="photogallery_caption photogallery_descr"><span
  class="photogallery_caption photogallery_text">Deep sea.</span></span>
<span class="photogallery_caption photogallery_author"><a
  href="/aphia.php?id=9">A. Researcher</a></span>
""", 1, 0


SITE_TEMPLATES = {
    "animaldiversityweb": _animaldiversityweb,
    "behance": _behance,
    "capl": _capl,
    "deviantart": _deviantart,
    "digitaltmuseum": _digitaltmuseum,
    "eol": _eol,
    "floraon": _floraon,
    "geographorguk": _geographorguk,
    "iha": _iha,
    "mccordmuseum": _mccordmuseum,
    "museumvictoria": _museumvictoria,
    "sciencemuseum": _sciencemuseum,
    "svgsilh": _svgsilh,
    "thorvaldsensmuseum": _thorvaldsensmuseum,
    "worms": _worms,
}

# hosts that contain a site's name without being that site's host
DECOY_HOSTS = [
    "notdeviantart.com", "deviantart.com.example.net", "eol.org.mirror.io",
    "behance.net-archive.org", "thorvaldsensmuseum.dk.example.com",
]


def filler(rng: random.Random, target_bytes: int) -> str:
    """Paragraphs, offsite anchors and images up to ``target_bytes``.
    Tags no site spec selects on, so filler never changes a row."""
    out: list[str] = []
    size = 0
    while size < target_bytes:
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(30, 60)))
        k = rng.randrange(1000)
        part = (
            f'<p>{words} <a href="https://site{k}.example.net/p/{k}">more</a>'
            f' <img src="/img/{k}.jpg"></p>\n'
        )
        out.append(part)
        size += len(part)
    return "".join(out)


def offsite_page(n: int, rng: random.Random, decoy: bool) -> tuple[str, str, int]:
    """(url, head html, cc anchors) for a page no spec routes to."""
    host = rng.choice(DECOY_HOSTS) if decoy else f"blog{n % 211}.example.org"
    anchors = rng.choice((0, 0, 1, 2))
    lic = "".join(
        f'<a rel="license" href="{CC}/licenses/by/4.0/">cc</a>\n'
        for _ in range(anchors)
    )
    return f"https://{host}/post/{n}", f"<title>Post {n}</title>\n{lic}", anchors
