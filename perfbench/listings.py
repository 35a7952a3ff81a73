"""Seeded generator of scraped listing pages, with their ground truth.

A landing file is ``<date>.html`` holding ten concatenated ``<html>``
pages of listing cards (the reference joins page bodies with a newline).
The markup is scraped-page realistic: unclosed ``<p>`` tags, entities,
nested markup inside the extracted elements, decoy elements outside the
cards, and about 5% of cards missing each field. Each file comes with
the CSV rows the transform stage must produce for it, with ``"N/A"``
for a missing field, so the benchmark can check every output without
running the program's own parser.
"""

from __future__ import annotations

import csv
import datetime as dt
import html
import os
import random
from dataclasses import dataclass

PAGES_PER_FILE = 10
CARDS_PER_PAGE = 40
MISSING_RATE = 0.05

_BARRIOS = [
    "Chapinero", "Usaqu&eacute;n", "Teusaquillo", "Suba", "Engativ&aacute;",
    "Kennedy", "Fontib&oacute;n", "La Candelaria", "Ch&iacute;a &amp; Caj&iacute;c&aacute;",
    "Cedritos", "Santa B&aacute;rbara", "Rosales", "El Chic&oacute;", "Modelia",
]
_TAGS = ["Parqueadero", "Ascensor", "Gimnasio", "Balc&oacute;n", "Chimenea", "Terraza"]
_BASE_DATE = dt.date(2001, 1, 1)


@dataclass
class LandingFile:
    name: str
    text: str
    rows: list[tuple[str, ...]]

    @property
    def nbytes(self) -> int:
        return len(self.text.encode("utf-8"))


def _text(raw_fragments: list[str]) -> str:
    """What the extractor makes of an element's text: each text run
    unescaped and stripped, then joined."""
    return "".join(html.unescape(f).strip() for f in raw_fragments)


def _card(rng: random.Random, card_id: int) -> tuple[str, tuple[str | None, ...]]:
    """One card's HTML and its (barrio, valor, habitaciones, banos, mts2)."""
    def missing() -> bool:
        return rng.random() < MISSING_RATE

    price = rng.randrange(80, 2500) * 1_000_000
    price_txt = "$ " + f"{price:,}".replace(",", ".")
    if missing():
        valor = None
        price_html = '<span class="price">Consultar</span>'
    elif rng.random() < 0.3:
        frags = [" <b>", price_txt, "</b> <small>", "COP", "</small> "]
        price_html = f'<span class="price__actual">{"".join(frags)}</span>'
        valor = _text([price_txt, "COP"])
    else:
        price_html = f'<span class="price__actual">\n  {price_txt}  </span>'
        valor = _text([price_txt])

    barrio_raw = rng.choice(_BARRIOS)
    if missing():
        barrio = None
        geo_html = '<div class="listing-card__location">Bogot&aacute;</div>'
    elif rng.random() < 0.3:
        geo_html = (
            f'<div class="listing-card__location__geo"><i class="icon"></i>'
            f'{barrio_raw}<span>, Bogot&aacute;</span></div>'
        )
        barrio = _text([barrio_raw, ", Bogot&aacute;"])
    else:
        geo_html = f'<div class="listing-card__location__geo"> {barrio_raw} </div>'
        barrio = _text([barrio_raw])

    props = []
    values: list[str | None] = []
    for test, value in (
        ("bedrooms", str(rng.randint(1, 5))),
        ("bathrooms", str(rng.randint(1, 4))),
        ("floor-area", f"{rng.randint(30, 400)}.{rng.randint(0, 9)}"),
    ):
        if missing():
            # Half the misses keep the <p> but drop its content attribute.
            if rng.random() < 0.5:
                props.append(f'<p data-test="{test}">sin dato')
            values.append(None)
        else:
            props.append(f'<p data-test="{test}" content="{value}">{value} <span>u.</span>')
            values.append(value)

    tags = "".join(f"<li>{t}" for t in rng.sample(_TAGS, 3))
    card_html = (
        f'<div class="listing-card" data-id="{card_id}">'
        f'<a href="/inmueble/{card_id}" class="listing-card__link">'
        f'<img src="/img/{card_id}.jpg" alt="foto {card_id}"></a>\n'
        f'<div class="listing-card__content"><div class="listing-card__header">'
        f'<span class="listing-card__badge">Nuevo</span><br>{price_html}</div>\n'
        f'<div class="listing-card__title">Apartamento en venta &amp; arriendo</div>'
        f"{geo_html}\n"
        f'<div class="listing-card__properties">{"".join(props)}</div>'
        f'<ul class="listing-card__tags">{tags}</ul>'
        f'<div class="listing-card__footer"><a href="/contacto/{card_id}">Contactar</a>'
        f"<!-- ref {rng.getrandbits(64):016x} --></div>"
        "</div></div>\n"
    )
    return card_html, (barrio, valor, *values)


def _page(rng: random.Random, n_cards: int, first_id: int) -> tuple[str, list[tuple]]:
    cards = [_card(rng, first_id + i) for i in range(n_cards)]
    body = "".join(c for c, _ in cards) or "<p>No hay resultados para tu b&uacute;squeda"
    page = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>Resultados</title>"
        "<script>var cfg = {page: 1, cls: 'listing-card__content'};</script></head>"
        '<body><nav class="menu"><ul><li><a href="/">Inicio</a><li>Venta</ul></nav>'
        f'<main><div class="listing-grid">\n{body}</div></main>'
        "<footer><p>&copy; Portal<p>Aviso legal</footer></body></html>"
    )
    return page, [v for _, v in cards]


def make_file(rng: random.Random, index: int, with_cards: bool = True) -> LandingFile:
    """Landing file number ``index`` (its date is the index-th day after
    the base date, so names never repeat within one run)."""
    date = (_BASE_DATE + dt.timedelta(days=index)).isoformat()
    pages, rows = [], []
    for p in range(PAGES_PER_FILE):
        page, values = _page(rng, CARDS_PER_PAGE if with_cards else 0, p * CARDS_PER_PAGE)
        pages.append(page)
        rows.extend(
            (date, *("N/A" if v is None else v for v in vals)) for vals in values
        )
    return LandingFile(f"{date}.html", "\n".join(pages), rows)


def make_files(seed: int, first_index: int, count: int, empty_every: int = 0) -> list[LandingFile]:
    """``count`` files from one seeded stream; with ``empty_every`` = k,
    every k-th file has no cards at all."""
    rng = random.Random(f"{seed}:{first_index}:{count}")
    return [
        make_file(
            rng, first_index + i,
            with_cards=not (empty_every and (first_index + i) % empty_every == empty_every - 1),
        )
        for i in range(count)
    ]


def write_files(files: list[LandingFile], directory: str) -> None:
    """Write files so each appears complete: a stream scanning
    ``directory`` never sees a half-written file."""
    os.makedirs(directory, exist_ok=True)
    for f in files:
        tmp = os.path.join(directory, f".{f.name}.tmp")
        with open(tmp, "w", encoding="utf-8") as out:
            out.write(f.text)
        os.replace(tmp, os.path.join(directory, f.name))


def read_partitioned_csv(path: str) -> list[tuple[str, ...]]:
    """Rows of a ``partitionBy("FechaDescarga")`` CSV directory, with the
    partition value put back as the first column."""
    rows = []
    for part_dir in sorted(os.listdir(path)):
        if not part_dir.startswith("FechaDescarga="):
            continue
        date = part_dir.split("=", 1)[1]
        for name in sorted(os.listdir(os.path.join(path, part_dir))):
            if not name.endswith(".csv"):
                continue
            with open(os.path.join(path, part_dir, name), newline="", encoding="utf-8") as fh:
                reader = csv.reader(fh)
                header = next(reader, None)
                if header != ["Barrio", "Valor", "NumHabitaciones", "NumBanos", "mts2"]:
                    raise ValueError(f"{part_dir}/{name}: unexpected header {header}")
                rows.extend((date, *r) for r in reader)
    return rows


def read_csv_object(path: str) -> list[tuple[str, ...]]:
    """Rows of one per-file ``<date>.csv`` object, header checked."""
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        header = next(reader, None)
        if header != ["FechaDescarga", "Barrio", "Valor", "NumHabitaciones", "NumBanos", "mts2"]:
            raise ValueError(f"{path}: unexpected header {header}")
        return [tuple(r) for r in reader]
