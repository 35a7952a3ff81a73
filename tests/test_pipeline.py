"""Transform-stage tests: golden card HTML → extractor fields → typed
DataFrame → byte-exact header CSV. Covers what the reference never
tested (its process_handler has zero coverage — SURVEY.md §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parcialbigdata_spark.pipeline import (
    CSV_COLUMNS,
    compat_view,
    exploded_cards,
    extract_cards,
    parse_listings,
    process_handler,
)
from tests.test_fetch import RecordingStore

# FIXTURES.md §A2 golden card.
GOLDEN_CARD = """
<div class="listing-card__content">
  <span class="price__actual">$ 250.000.000</span>
  <div class="listing-card__location__geo">Chapinero, Bogotá</div>
  <p data-test="bedrooms" content="2"></p>
  <p data-test="bathrooms" content="1"></p>
  <p data-test="floor-area" content="45"></p>
</div>
"""

MISSING_FIELDS_CARD = """
<div class="listing-card__content">
  <div class="listing-card__location__geo">Usaquén</div>
  <p data-test="bedrooms"></p>
</div>
"""


def _page(cards: str) -> str:
    return f"<html><body>{cards}</body></html>"


def test_extract_golden_card():
    cards = extract_cards(_page(GOLDEN_CARD))
    assert cards == [
        {
            "valor": "$ 250.000.000",
            "barrio": "Chapinero, Bogotá",
            "num_habitaciones": "2",
            "num_banos": "1",
            "mts2": "45",
        }
    ]


def test_extract_missing_fields_are_none():
    """Missing element → None; p without content attr → None
    (reference emits "N/A" for both, download_lambda.py:100-114)."""
    (card,) = extract_cards(_page(MISSING_FIELDS_CARD))
    assert card == {
        "valor": None,
        "barrio": "Usaquén",
        "num_habitaciones": None,
        "num_banos": None,
        "mts2": None,
    }


def test_extract_first_match_wins_and_nested_markup():
    html = _page(
        """
        <div class="listing-card__content">
          <span class="price__actual"><b>$ 1</b> <i>COP</i></span>
          <span class="price__actual">$ 2</span>
          <div class="listing-card__location__geo">A</div>
        </div>
        """
    )
    (card,) = extract_cards(html)
    assert card["valor"] == "$ 1COP"  # get_text(strip=True) parity
    assert card["barrio"] == "A"


def test_extract_concatenated_documents():
    """The reference concatenates 10 page bodies with "\\n" into one
    object (download_lambda.py:40) — all pages' cards must surface."""
    html = "\n".join(_page(GOLDEN_CARD) for _ in range(3))
    assert len(extract_cards(html)) == 3


def test_extract_empty_input():
    assert extract_cards("") == []
    assert extract_cards("<html><body><p>nada</p></body></html>") == []


def test_parse_listings_types(spark):
    raw = spark.createDataFrame(
        [("2026-08-13.html", _page(GOLDEN_CARD + MISSING_FIELDS_CARD))],
        "source_file string, value string",
    )
    rows = parse_listings(raw).orderBy(F.col("valor").asc_nulls_last()).collect()
    assert len(rows) == 2
    full, missing = rows[0], rows[1]
    assert str(full.fecha_descarga) == "2026-08-13"
    assert full.valor == "$ 250.000.000"
    assert float(full.valor_num) == 250000000.0
    assert full.num_habitaciones == 2 and full.num_banos == 1
    assert full.mts2 == 45.0
    assert missing.valor is None and missing.valor_num is None
    assert missing.barrio == "Usaquén"


def test_process_handler_golden_csv(spark, tmp_path, monkeypatch):
    """End-to-end transform: byte-identical header CSV with "N/A"
    sentinels, CRLF line endings and csv-module quoting — the exact
    serialization of download_lambda.py:121-138."""
    monkeypatch.setenv("DEST_BUCKET", "out")
    store = RecordingStore(str(tmp_path))
    store.put_object("in", "2026-08-13.html", _page(GOLDEN_CARD + MISSING_FIELDS_CARD))
    store.put_calls.clear()

    event = {
        "Records": [
            {"s3": {"bucket": {"name": "in"}, "object": {"key": "2026-08-13.html"}}}
        ]
    }
    result = process_handler(event, spark=spark, store=store)
    assert result == {"status": "processed", "csv_filename": "2026-08-13.csv"}
    (call,) = store.put_calls
    assert call["Bucket"] == "out"
    assert call["ContentType"] == "text/csv"
    assert call["Body"] == (
        "FechaDescarga,Barrio,Valor,NumHabitaciones,NumBanos,mts2\r\n"
        '2026-08-13,"Chapinero, Bogotá",$ 250.000.000,2,1,45\r\n'
        "2026-08-13,Usaquén,N/A,N/A,N/A,N/A\r\n"
    )


def test_process_handler_empty_input(spark, tmp_path):
    """Zero cards → error result, nothing written
    (download_lambda.py:89-92)."""
    store = RecordingStore(str(tmp_path))
    store.put_object("in", "x.html", "<html><body>vacío</body></html>")
    store.put_calls.clear()

    event = {"Records": [{"s3": {"bucket": {"name": "in"}, "object": {"key": "x.html"}}}]}
    result = process_handler(event, spark=spark, store=store)
    assert result == {"status": "error", "message": "No listings found"}
    assert store.put_calls == []


def test_compat_view_columns(spark):
    raw = spark.createDataFrame(
        [("2026-08-13.html", _page(GOLDEN_CARD))], "source_file string, value string"
    )
    compat = compat_view(exploded_cards(raw))
    assert compat.columns == CSV_COLUMNS
    row = compat.first()
    assert row.FechaDescarga == "2026-08-13"
    assert row.mts2 == "45"  # raw string passthrough, not "45.0"


def test_lambda_handler_dispatch(monkeypatch, tmp_path, spark):
    """Dispatcher parity (download_lambda.py:143-153)."""
    from parcialbigdata_spark.pipeline import lambda_handler
    from tests.test_fetch import dummy_get_success

    store = RecordingStore(str(tmp_path))
    out = lambda_handler({}, http_get=dummy_get_success, store=store)
    assert out["status"] == "downloaded"

    store.put_object("in", "y.html", _page(GOLDEN_CARD))
    event = {"Records": [{"s3": {"bucket": {"name": "in"}, "object": {"key": "y.html"}}}]}
    out = lambda_handler(event, spark=spark, store=store)
    assert out["status"] == "processed"


@pytest.mark.parametrize("n_files", [3])
def test_read_landing_multi_file(spark, tmp_path, n_files):
    """Whole-file scan: one row per landing file, filename preserved for
    the date derivation (download_lambda.py:95)."""
    from parcialbigdata_spark.pipeline import read_landing

    for i in range(n_files):
        (tmp_path / f"2026-08-{10 + i}.html").write_text(_page(GOLDEN_CARD))
    parsed = parse_listings(read_landing(spark, str(tmp_path)))
    assert parsed.count() == n_files
    dates = {str(r.fecha_descarga) for r in parsed.select("fecha_descarga").collect()}
    assert dates == {"2026-08-10", "2026-08-11", "2026-08-12"}


def test_extract_unclosed_p_tags():
    """Real scraped HTML routinely leaves <p> unclosed; the next block
    tag implicitly closes it (bs4/html.parser recovery parity) — card
    boundaries and attribute extraction must survive."""
    html = """
    <div class="listing-card__content">
      <span class="price__actual">$ 100</span>
      <p data-test="bedrooms" content="3">
      <p data-test="bathrooms" content="2">
      <div class="listing-card__location__geo">Suba</div>
    </div>
    <div class="listing-card__content">
      <span class="price__actual">$ 200</span>
    </div>
    """
    cards = extract_cards(f"<html><body>{html}</body></html>")
    assert len(cards) == 2
    assert cards[0]["num_habitaciones"] == "3"
    assert cards[0]["num_banos"] == "2"
    assert cards[0]["barrio"] == "Suba"
    assert cards[1]["valor"] == "$ 200"


def test_extract_stray_end_tags():
    html = '<div class="listing-card__content"></span><span class="price__actual">$ 5</span></div>'
    (card,) = extract_cards(html)
    assert card["valor"] == "$ 5"


def test_extract_matches_reference_on_pages():
    """The golden cards and generated landing files (scraped-page markup:
    unclosed <p>, entities, scripts, decoy elements, comments) parse
    exactly as the reference HTMLParser-based extractor parses them."""
    from perfbench.listings import make_files
    from tests.html_reference import SAME_GRAMMAR
    from tests.html_reference import extract_cards as reference_extract_cards

    if not SAME_GRAMMAR:
        pytest.skip("this html.parser is not the pinned 3.11.7 grammar")

    pages = [_page(GOLDEN_CARD + MISSING_FIELDS_CARD), "\n".join(_page(GOLDEN_CARD) for _ in range(3))]
    pages += [f.text for f in make_files(7, 0, 2)]
    for html in pages:
        assert extract_cards(html) == reference_extract_cards(html)


@pytest.mark.parametrize("junk", ["<![x y", "<![[ ", "a<![1>b", "<![ cdata[a]]"])
def test_extract_malformed_marked_section(junk):
    """A malformed ``<![`` marked section (html.parser raises
    AssertionError on it) is a bogus comment up to the next ``>``: it
    neither crashes the parse nor hides the cards after that ``>``."""
    assert extract_cards(junk) == []
    (card,) = extract_cards(_page(junk + ">" + GOLDEN_CARD))
    assert card["valor"] == "$ 250.000.000"


def test_exploded_cards_survive_malformed_marked_section(spark, tmp_path):
    """One bad construct in one landing file must not fail the batch:
    the card after ``<![x y>`` still comes out of the Spark parse."""
    from parcialbigdata_spark.pipeline import read_landing

    (tmp_path / "2026-08-13.html").write_text(_page("<![x y>" + GOLDEN_CARD))
    (tmp_path / "2026-08-14.html").write_text(_page(GOLDEN_CARD))
    rows = exploded_cards(read_landing(spark, str(tmp_path))).orderBy("source_file").collect()
    assert [(r.source_file, r.valor, r.mts2) for r in rows] == [
        ("2026-08-13.html", "$ 250.000.000", "45"),
        ("2026-08-14.html", "$ 250.000.000", "45"),
    ]


def test_compat_sink_size_guard(spark):
    """The driver-side per-file CSV sink refuses corpus-scale input
    (VERDICT r3 item 4): the guard trips before any per-date collect."""
    import pytest as _pytest

    from parcialbigdata_spark.pipeline.sink import guard_compat_size

    big = spark.range(25).selectExpr("CAST(id AS STRING) AS FechaDescarga")
    with _pytest.raises(ValueError, match="write_csv_distributed"):
        guard_compat_size(big, max_rows=10)
    guard_compat_size(big, max_rows=25)  # at the bound: no trip


def test_observed_csv_sink_collects_metrics_during_write(spark, tmp_path):
    """write_csv_distributed_observed returns exact row / N-A counts
    gathered by the Observation DURING the write job — no second scan —
    and the written CSV matches the plain distributed sink's output."""
    from parcialbigdata_spark.pipeline.sink import write_csv_distributed_observed

    compat = spark.createDataFrame(
        [
            ("$1", "Chapinero", "2", "1", "45", "2026-08-13"),
            ("N/A", "Suba", "3", "2", "60", "2026-08-13"),
            ("$3", "Usaquén", "1", "1", "30", "2026-08-14"),
        ],
        "Valor string, Barrio string, Num_Habitaciones string,"
        " Num_Banos string, mts2 string, FechaDescarga string",
    )
    out = str(tmp_path / "csv_observed")
    metrics = write_csv_distributed_observed(compat, out)
    assert metrics == {"rows_written": 3, "na_valor_rows": 1}

    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    # hive partition values are type-inferred on read (date here);
    # compare through a string cast
    got_dates = {
        r["d"]
        for r in back.select(
            back["FechaDescarga"].cast("string").alias("d")
        ).collect()
    }
    assert got_dates == {"2026-08-13", "2026-08-14"}
