"""Golden pipeline tests: reference-shaped fixtures (FIXTURES.md) replayed
through the plans modules, asserting hand-computed outputs — the end-to-end
tier the reference never had (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from tibame_project_spark.plans import attractions, gmaps, taipei, tripadvisor


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# gmaps: src -> ods -> dims/fact -> mart (flagship, SURVEY §3.1)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def gmaps_src(spark):
    return spark.createDataFrame(
        [
            # (place, review, rating, text, published_at zh-relative, user, url, extracted_at)
            ("故宮", "r1", 5.0, "great", "3天前", "u1", "url1", "2024-06-15 12:00:00"),
            ("故宮", "r2", 4.0, "good", "2小時前", "u2", "url2", "2024-06-15 12:00:00"),
            ("故宮", "r2", 4.0, "good", "2小時前", "u2", "url2", "2024-06-15 12:00:00"),  # dup
            ("象山", "r3", 3.0, "ok", "1個月前", "u1", "url1", "2024-06-15 12:00:00"),
            (None, "r4", 1.0, "bad", "1天前", "u3", "url3", "2024-06-15 12:00:00"),  # dropped
        ],
        "place_name string, review_id string, rating double, review_text string, "
        "published_at string, user_name string, user_url string, extracted_at string",
    )


@pytest.fixture(scope="module")
def gmaps_places(spark):
    return spark.createDataFrame(
        [
            Row(
                place_id="p1",
                place_name="故宮",
                detailed_address=Row(country_code="TW", state="臺北市士林區"),
                coordinates=Row(latitude=25.1, longitude=121.5),
                address="addr1",
                google_place_url="g1",
                main_category="museum",
            ),
            Row(
                place_id="p2",
                place_name="象山",
                detailed_address=Row(country_code="TW", state="臺北市信義區"),
                coordinates=Row(latitude=25.0, longitude=121.6),
                address="addr2",
                google_place_url="g2",
                main_category="hike",
            ),
        ]
    )


def test_gmaps_ods_relative_dates_and_nulls(spark, gmaps_src):
    ods = gmaps.ods_reviews(gmaps_src)
    rows = {(r.review_id, r.published_at) for r in ods.collect()}
    # 3天前 from 2024-06-15 → 06-12; 2小時前 → same day; 1個月前 → 05-15
    assert rows == {
        ("r1", dt.date(2024, 6, 12)),
        ("r2", dt.date(2024, 6, 15)),
        ("r2", dt.date(2024, 6, 15)),
        ("r3", dt.date(2024, 5, 15)),
    }


def test_gmaps_dims_and_mart_golden(spark, gmaps_src, gmaps_places):
    ods = gmaps.ods_reviews(gmaps_src)
    time = gmaps.dim_time(ods)
    users = gmaps.dim_users(ods)
    places = gmaps.dim_places(gmaps_places)
    fact = gmaps.fact_reviews(ods)

    assert time.count() == 3  # three distinct dates
    q2 = {r.date: r.quarter for r in time.collect()}
    assert q2[dt.date(2024, 5, 15)] == 2 and q2[dt.date(2024, 6, 12)] == 2
    assert users.count() == 2  # u1 (one url), u2
    assert fact.count() == 3  # dup collapsed

    city = {r.place_name: (r.city, r.region) for r in places.collect()}
    assert city["故宮"] == ("臺北市", "士林區")  # regex split on 市/縣

    mart = gmaps.mart_review_trends(fact, places, time)
    got = {
        (r.place_name, str(r.date)): (r.total_reviews, r.avg_rating)
        for r in mart.collect()
    }
    assert got == {
        ("故宮", "2024-06-12"): (1, 5.0),
        ("故宮", "2024-06-15"): (1, 4.0),
        ("象山", "2024-05-15"): (1, 3.0),
    }


# ---------------------------------------------------------------------------
# tripadvisor: 8-stage chain as one expression (SURVEY §3.2)
# ---------------------------------------------------------------------------

def test_tripadvisor_ods_golden(spark):
    src = spark.createDataFrame(
        [
            ("0", "故宮", "4.0 分 (共 5 分)", "博物館 • 歷史", "台北", "1,200"),
            ("1", "故宮", "4.0 分 (共 5 分)", "博物館 • 歷史", "台北", "1,200"),  # dup
            ("2", "象山", "4.5 分 (共 5 分)", "健行", "信義", "800"),
            ("3", None, None, None, None, None),  # all-null payload row
        ],
        ["Unnamed: 0", "名稱", "評分", "類別", "地址", "totalReviews"],
    )
    ods = tripadvisor.ods_tripadvisor(src)
    assert "Unnamed: 0" not in ods.columns and "total_reviews" not in ods.columns
    rows = {r.attraction_name: r for r in ods.collect() if r.attraction_name}
    assert rows["故宮"].rating == 4.0
    assert rows["故宮"].categories == ["博物館", "歷史"]
    assert rows["故宮"].attraction_id == md5("故宮")
    assert rows["象山"].categories == ["健行"]
    assert ods.filter(F.col("attraction_name") == "故宮").count() == 1


# ---------------------------------------------------------------------------
# taipei: wide visitor matrix -> long (F13/F14, positional -> content drops)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def taipei_src(spark):
    return spark.createDataFrame(
        [
            # zh header row the reference dropped positionally (drop([0]))
            ("年度", "月份", "國立故宮博物院", "臺北市立動物園"),
            ("104(2015)", "1", "546,050", "292,817"),
            ("104(2015)", "2", "432,061", "瀏覽"),  # non-numeric -> dropped
            ("113(2024)", "12", "500,000", "300,000"),
        ],
        ["year", "month", "Palace Museum", "Taipei Zoo"],
    )


def test_taipei_ods_golden(spark, taipei_src):
    ods = taipei.ods_taipei(taipei_src)
    rows = {(r.year, r.month, r.name): r.number_people for r in ods.collect()}
    assert rows == {
        (2015, 1, "Palace Museum"): 546050,
        (2015, 1, "Taipei Zoo"): 292817,
        (2015, 2, "Palace Museum"): 432061,
        (2024, 12, "Palace Museum"): 500000,
        (2024, 12, "Taipei Zoo"): 300000,
    }


def test_taipei_name_mapping_transpose(spark, taipei_src):
    m = taipei.name_mapping(taipei_src, ["year", "month"])
    assert {(r.name_en, r.name_zh) for r in m.collect()} == {
        ("Palace Museum", "國立故宮博物院"),
        ("Taipei Zoo", "臺北市立動物園"),
    }


# ---------------------------------------------------------------------------
# attractions: cross-source dims + corrections-as-data (M1-M3)
# ---------------------------------------------------------------------------

def test_attraction_hashtag_union_patch_insert(spark):
    taipei_ids = spark.createDataFrame(
        [(md5("故宮"), "故宮"), (md5("動物園"), "動物園")], ["attraction_id", "name"]
    )
    trip_ids = spark.createDataFrame(
        [(md5("故宮"), "故宮"), (md5("象山"), "象山")], ["attraction_id", "name"]
    )
    # one of the 13 manual UPDATEs: remap 動物園 onto a synonym id
    updates = spark.createDataFrame(
        [("動物園", "fixed-id")], ["name", "attraction_id"]
    )
    new_rows = spark.createDataFrame(
        [("fixed-id", "動物園"), ("new-id", "小油坑")], ["attraction_id", "name"]
    )
    dim = attractions.dim_attraction_hashtag(
        taipei_ids, trip_ids, updates=updates, new_rows=new_rows
    )
    got = {(r.name, r.attraction_id) for r in dim.collect()}
    assert got == {
        ("故宮", md5("故宮")),       # union-distinct collapsed the shared row
        ("動物園", "fixed-id"),      # UPDATE applied
        ("象山", md5("象山")),
        ("小油坑", "new-id"),        # INSERT … NOT IN appended
    }


def test_fact_attraction_history_join(spark):
    visitors = spark.createDataFrame(
        [(2015, 1, "故宮", 1000), (2015, None, "故宮", 99)],
        "year int, month int, name string, number_people long",
    )
    ids = spark.createDataFrame([(md5("故宮"), "故宮")], ["attraction_id", "name"])
    fact = attractions.fact_attraction_history(visitors, ids)
    assert [(r.attraction_id, r.year, r.month, r.number_people) for r in fact.collect()] == [
        (md5("故宮"), 2015, 1, 1000)
    ]


def test_dim_attraction_detail_with_deletes(spark):
    hashtags = spark.createDataFrame(
        [("id1", "故宮"), ("id2", "幽靈景點")], ["attraction_id", "name"]
    )
    trip = spark.createDataFrame(
        [("故宮", 4.0, "台北")], ["name", "rating", "address"]
    )
    deletes = spark.createDataFrame([("id2",)], ["attraction_id"])
    dim = attractions.dim_attraction_detail(hashtags, trip, deletes=deletes)
    rows = dim.collect()
    assert len(rows) == 1 and rows[0].name == "故宮" and rows[0].rating == 4.0


# ---------------------------------------------------------------------------
# weather: CWA monthly XML → station×month matrix → weather_history serving
# (weatherINFO/a1-2.ipynb cells 1-9; MySQL/weatherINFO.ipynb cells 2-3;
#  sql/init.sql:100-112)
# ---------------------------------------------------------------------------

_WEATHER_XML = os.path.join(os.path.dirname(__file__), "fixtures", "mn_report_202401.xml")


def test_weather_long_and_matrix_golden(spark):
    from tibame_project_spark.plans import weather

    long_df = weather.read_monthly_reports(
        spark, {"2024-01": _WEATHER_XML, "2024-02": _WEATHER_XML}
    )
    # 2 stations × 7 measurements × 2 months
    assert long_df.count() == 28
    one = long_df.filter(
        (F.col("station_id") == "466920")
        & (F.col("element") == "Mean AirTemperature")
        & (F.col("year_month") == "2024-01")
    ).collect()
    assert len(one) == 1 and one[0].value == "16.2" and one[0].units == "˚C"
    assert one[0].station_name_en == "TAIPEI"

    mat = weather.station_month_matrix(long_df, "Accumulation Precipitation")
    rows = {r.station_id: r for r in mat.collect()}
    assert set(mat.columns) == {"station_id", "station_name", "2024-01", "2024-02"}
    assert rows["466920"]["2024-01"] == "112.5"
    assert rows["467490"]["2024-01"] == "T"  # trace rainfall survives as text


def test_weather_distributed_reader_matches_driver_side(spark, tmp_path):
    """Stretch 8: the mapInPandas XML path must reproduce the driver-side
    reader's relation exactly from a multi-file corpus (month taken from
    the yyyymm filename convention), with no driver materialization."""
    import shutil

    from tibame_project_spark.plans import weather

    corpus = tmp_path / "reports"
    corpus.mkdir()
    shutil.copy(_WEATHER_XML, corpus / "mn_Report_202401.xml")
    shutil.copy(_WEATHER_XML, corpus / "mn_Report_202402.xml")

    dist = weather.read_monthly_reports_distributed(spark, str(corpus))
    drv = weather.read_monthly_reports(
        spark, {"2024-01": _WEATHER_XML, "2024-02": _WEATHER_XML}
    )
    key = lambda r: (r.station_id, r.year_month, r.element)
    assert sorted(dist.collect(), key=key) == sorted(drv.collect(), key=key)

    mat = weather.station_month_matrix(dist, "Accumulation Precipitation")
    rows = {r.station_id: r for r in mat.collect()}
    assert rows["466920"]["2024-02"] == "112.5"


def test_weather_distributed_reader_month_regex_anchored(spark, tmp_path):
    """A stray 6-digit run before the month token (backup stamp, date
    prefix) must not be mistaken for yyyymm: the anchored convention wins,
    and the loose fallback for renamed copies takes the LAST digit run."""
    import shutil

    from tibame_project_spark.plans import weather

    corpus = tmp_path / "reports"
    corpus.mkdir()
    # convention name with a decoy digit run earlier in the name
    shutil.copy(_WEATHER_XML, corpus / "bak_991231_mn_Report_202401.xml")
    # renamed copy: no convention match; fallback takes last run (202402)
    shutil.copy(_WEATHER_XML, corpus / "export_111111_copy_202402.xml")

    months = {
        r.year_month
        for r in weather.read_monthly_reports_distributed(spark, str(corpus))
        .select("year_month")
        .distinct()
        .collect()
    }
    assert months == {"2024-01", "2024-02"}


def test_weather_history_serving_shape_and_jdbc(spark):
    from tibame_project_spark.plans import weather

    long_df = weather.read_monthly_reports(spark, {"2024-01": _WEATHER_XML})
    hist = weather.weather_history_rows(long_df)
    # exact serving contract of sql/init.sql:100-112 + the year/month split
    assert hist.columns == [
        "station_id", "year_month", "temperature_low", "temperature_high",
        "temperature_avg", "rainfall", "humidity_avg", "total_sunshine_hrs",
        "year", "month",
    ]
    rows = {r.station_id: r for r in hist.collect()}
    taipei = rows["466920"]
    assert (taipei.temperature_low, taipei.temperature_high) == (9.3, 28.1)
    assert (taipei.year, taipei.month) == (2024, 1)
    # 'T' (trace) rainfall coerces to NULL, like pandas to_numeric(coerce)
    assert rows["467490"].rainfall is None

    url = "jdbc:derby:memory:weatherdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    weather.load_weather_history(hist, url, props)
    back = spark.read.jdbc(url, "weather_history", properties=props)
    assert back.count() == 2 and set(back.columns) == set(hist.columns)


# ---------------------------------------------------------------------------
# populartimes 7×24 end-to-end (F19) + gold→serving contract (init.sql)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def places_with_popular_times(spark):
    from tibame_project_spark.schemas import GMAPS_PLACES

    hist = lambda pairs: [
        {"hour_of_day": h, "time_label": f"{h} PM", "popularity_percentage": p,
         "popularity_description": "busy"} for h, p in pairs
    ]
    rows = [
        {
            "place_id": "p1", "place_id_raw": "r1", "place_name": "故宮",
            "google_place_url": "g1",
            "popular_times": {
                "Monday": hist([(14, 80), (15, 90)]),
                "Sunday": hist([(10, 55)]),
            },
        },
        {
            "place_id": "p2", "place_id_raw": "r2", "place_name": "象山",
            "google_place_url": "g2",
            "popular_times": {"Saturday": hist([(6, 70)])},
        },
    ]
    return spark.createDataFrame(rows, GMAPS_PLACES)


def test_popular_times_long_and_matrix(spark, places_with_popular_times):
    long = gmaps.popular_times_long(places_with_popular_times)
    got = {(r.place_id, r.day, r.hour): r.popularity for r in long.collect()}
    assert got == {
        ("p1", "Monday", 14): 80, ("p1", "Monday", 15): 90,
        ("p1", "Sunday", 10): 55, ("p2", "Saturday", 6): 70,
    }

    mat = gmaps.popular_times_matrix(places_with_popular_times)
    assert mat.columns == ["place_id", "day"] + [str(h) for h in range(24)]
    m = {(r.place_id, r.day): r for r in mat.collect()}
    assert m[("p1", "Monday")]["14"] == 80 and m[("p1", "Monday")]["15"] == 90
    assert m[("p1", "Monday")]["0"] == 0      # zero-initialized absent hours
    assert m[("p2", "Saturday")]["6"] == 70


def test_serving_contract_shapes_and_jdbc(spark, places_with_popular_times):
    from tibame_project_spark.plans import serving

    dim_places = spark.createDataFrame(
        [("p1", "故宮", "臺北市", 25.1, 121.5, "g1")],
        "place_id string, place_name string, city string, latitude double, "
        "longitude double, google_place_url string",
    )
    city = serving.serving_city(dim_places)
    assert city.columns == ["id", "name", "name_en"]
    attr = serving.serving_attraction(dim_places)
    assert attr.columns == ["attraction_id", "name", "name_en", "intro",
                            "googlemap_name", "googlemap_url", "photo_url",
                            "city_id", "lat", "lon"]
    a = attr.collect()[0]
    assert a.attraction_id == md5("故宮") and a.city_id == md5("臺北市")

    fact = spark.createDataFrame(
        [("r1", "故宮", 4.5, "great", dt.date(2024, 6, 1), "u1")],
        "review_id string, place_name string, rating double, review_text string, "
        "published_at date, user_name string",
    )
    rev = serving.serving_attraction_review(fact)
    assert rev.columns == ["id", "attraction_id", "author", "rating",
                           "description", "source_platform_id", "created_at", "url"]

    trip = spark.createDataFrame(
        [(md5("故宮"), ["博物館", "歷史"])], "attraction_id string, categories array<string>"
    )
    bridge, type_dim = serving.serving_attraction_type(trip)
    assert bridge.count() == 2 and type_dim.count() == 2
    assert set(bridge.columns) == {"attraction_id", "type_id"}
    assert set(type_dim.columns) == {"id", "name"}

    pop = serving.serving_attraction_popularity(
        gmaps.popular_times_long(places_with_popular_times), "2024-06-01 00:00:00"
    )
    assert pop.columns == ["id", "attraction_id", "value", "hour", "created_at"]
    assert pop.count() == 4

    # one real serving load round-trip (Derby stands in for MySQL)
    url = "jdbc:derby:memory:servingdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    serving.load_serving(attr, url, "attraction", props)
    back = spark.read.jdbc(url, "attraction", properties=props)
    assert back.count() == 1 and back.collect()[0].name == "故宮"


def test_release_pipeline_stage_interactions(spark):
    """Composition golden: each stage's effect visible in the final chunks."""
    from tibame_project_spark.plans.release import release_corpus

    docs = spark.createDataFrame(
        [
            # healthy doc, survives everything
            (1, "the quick brown fox jumps over the lazy dog today ok fine"),
            # identical twin of 1 -> exact-dedup drops (higher id loses)
            (2, "the quick brown fox jumps over the lazy dog today ok fine"),
            # fails the quality gate (no alphabetic tokens)
            (3, "1 2 3 4 5 6 7 8"),
            # contaminated: shares a 3-gram with the benchmark
            (4, "the secret eval answer is hidden somewhere in this text ok"),
            # PII is scrubbed but the doc survives
            (5, "contact me at a@b.com about the next hiking trip soon ok"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("secret eval answer",)], ["bench_text"]
    )
    out = release_corpus(docs, bench, chunk_tokens=6, decontaminate_n=3)
    chunks = {(r.doc_id, r.chunk_idx): r.chunk for r in out.collect()}
    ids = {d for d, _ in chunks}
    assert ids == {1, 5}          # 2 deduped, 3 quality-failed, 4 contaminated
    assert "<EMAIL>" in chunks[(5, 0)] and "a@b.com" not in chunks[(5, 0)]
    assert chunks[(1, 0)].split() == ["the", "quick", "brown", "fox", "jumps", "over"]


# ---------------------------------------------------------------------------
# end-to-end train-ready export: release -> pack


def test_release_to_sequences_export_chain(spark):
    """The corpus-to-trainer chain composed: release_corpus (quality
    gate, scrub, both dedups, decontaminate, chunk) → pack_chunks.
    Invariant: every released chunk lands in exactly one sequence."""
    from tibame_project_spark.catalog import load
    from tibame_project_spark.functions.textstats import pack_chunks
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.plans.release import release_corpus

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    bench = docs.limit(3).select(F.col("text").alias("bench_text"))
    chunks = release_corpus(docs, bench, base_hash=md5_base_hash)
    n_chunks = chunks.count()
    assert n_chunks > 0

    packed = pack_chunks(chunks, base_hash=md5_base_hash)
    # each chunk appears exactly once across sequences
    assert packed.count() == n_chunks
    assert (
        packed.groupBy("doc_id", "chunk_idx").count().filter("count > 1").count()
        == 0
    )


def test_serving_remaining_contract_shapes(spark):
    """r08: the 8 serving tables the r07 VERDICT flagged as builder-less
    (init.sql:7,12,17,43,62,114,125,137) — every builder lands exactly its
    DDL column set."""
    from tibame_project_spark.plans import serving

    trip = spark.createDataFrame(
        [("故宮", md5("故宮"), ["博物館"], "國立博物館")],
        "name string, attraction_id string, categories array<string>, info string",
    )
    type_dim = serving.serving_type(
        trip.select("attraction_id", "categories")
    )
    assert set(type_dim.columns) == {"id", "name"}
    assert type_dim.collect()[0].id == md5("博物館")

    platform = serving.serving_social_platform(spark)
    assert platform.columns == ["id", "name"]
    assert {r.name for r in platform.collect()} == {"googlemap", "fb"}

    stations = spark.createDataFrame(
        [("466920", "臺北", "Taipei", 25.037659, 121.514854, "臺北市", "公園路64號")],
        "station_orig_id string, name string, name_en string, lat double, "
        "lon double, city string, address string",
    )
    ws = serving.serving_weather_station(stations)
    assert ws.columns == ["id", "station_orig_id", "name", "name_en", "lat",
                          "lon", "city_id", "address"]
    w = ws.collect()[0]
    assert w.id == md5("466920") and w.city_id == md5("臺北市")
    assert str(w.lat) == "25.037659" and str(w.lon) == "121.514854"

    taipei_ids = spark.createDataFrame(
        [("故宮博物院", md5("故宮"))], "name string, attraction_id string"
    )
    trip_ids = spark.createDataFrame(
        [("故宮", md5("故宮"))], "name string, attraction_id string"
    )
    tags = serving.serving_attraction_hashtag(taipei_ids, trip, trip_ids)
    assert set(tags.columns) == {"name", "attraction_id"}
    # union distinct of the taipei synonym and the trip-joined name
    assert {r.name for r in tags.collect()} == {"故宮博物院", "故宮"}

    detail = serving.serving_attraction_detail(tags, trip)
    assert detail.columns == ["attraction_id", "info"]
    rows = detail.collect()
    # hashtag spine left-joins ods: matched name carries info, synonym
    # name (absent from ods) yields a NULL-info row, deduped on the pair
    assert {(r.attraction_id, r.info) for r in rows} == {
        (md5("故宮"), "國立博物館"), (md5("故宮"), None)
    }

    daily = serving.serving_weather_daily(spark.createDataFrame(
        [("466920", 18, 27, 22, "多雲", dt.date(2024, 5, 8))],
        "station_orig_id string, temperature_low int, temperature_high int, "
        "temperature_avg int, description string, obs_date date",
    ))
    assert daily.columns == ["id", "station_id", "temperature_low",
                             "temperature_high", "temperature_avg",
                             "description", "current_date"]
    assert daily.collect()[0].station_id == md5("466920")

    pred = serving.serving_weather_prediction(spark.createDataFrame(
        [("466920", 19, 28, 23, 30, dt.date(2024, 5, 9),
          dt.datetime(2024, 5, 8, 6, 0))],
        "station_orig_id string, temperature_low int, temperature_high int, "
        "temperature_avg int, rain_prob int, prediction_date date, "
        "fetched_at timestamp",
    ))
    assert pred.columns == ["id", "station_id", "temperature_low",
                            "temperature_high", "temperature_avg", "rainfall",
                            "prediction_date", "create_at"]
    p = pred.collect()[0]
    assert p.station_id == md5("466920") and p.rainfall == 30


def test_fb_posts_golden_against_reference_output(spark):
    """The composed FB pipeline (plans/fb.py) replayed on the reference's
    own scrape CSV must reproduce its committed normalized output
    (fb_scraper/normalized/Normalization_中正紀念堂_2024-05-08.csv) row for
    row — filename→(place, ref date), noise drop, zh date resolution,
    serving projection."""
    import pandas as pd

    from tibame_project_spark.plans import fb, serving

    src = "/root/reference/fb_scraper/source/postsInformation_中正紀念堂_2024-05-08.csv"
    gold = "/root/reference/fb_scraper/normalized/Normalization_中正紀念堂_2024-05-08.csv"

    out = serving.serving_attraction_social_article(
        fb.fb_social_articles(spark, src)
    )
    got = {
        (r.id, r.attraction_id, r.author, r.description or None, r.url,
         r.source_platform_id, str(r.created_at) if r.created_at else None)
        for r in out.collect()
    }

    gdf = pd.read_csv(gold, keep_default_na=False)
    want = {
        (r.id, r.attraction_id, r.author, r.description or None, r.url,
         r.source_platform_id, r.created_at or None)
        for r in gdf.itertuples()
    }
    assert len(got) == len(want) == 240
    assert got == want

    # serving load roundtrip for the new table (Derby stands in for MySQL)
    url = "jdbc:derby:memory:fbservingdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    serving.load_serving(out, url, "attraction_social_article", props)
    back = spark.read.jdbc(url, "attraction_social_article", properties=props)
    assert back.count() == 240
    assert sorted(back.columns) == sorted(out.columns)


def test_maintain_mart_from_feed_tracks_full_recompute(spark, tmp_path):
    """Feed-driven incremental view maintenance: across bootstrap, a
    group-moving update, inserts, and deletes that empty a group, the
    signed-delta mart equals the full recompute after every round — and
    the base table is only ever read through the feed's touched files."""
    from tibame_project_spark.plans.warehouse import maintain_mart_from_feed
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_feed_commit,
        merge_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )
    import pyspark.sql.functions as F

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(i, "a" if i % 2 else "b", i * 10) for i in range(10)],
            "id long, g string, v long",
        ),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=2,
        keep=10,
    )

    def full():
        return {
            (r["g"], r["n"], r["total"])
            for r in read_manifest_table(spark, base)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
            .collect()
        }

    def pull(mart):
        mart, head = maintain_mart_from_feed(
            spark, base, "id",
            state_path=state, group_cols=["g"],
            counts=["n"], sums={"total": "v"}, mart=mart,
        )
        mart = mart.localCheckpoint(eager=True)  # "persist", then advance
        manifest_feed_commit(spark, state, head)
        assert {tuple(r) for r in mart.select("g", "n", "total").collect()} == full()
        return mart

    mart = pull(None)  # bootstrap = initial aggregate

    # group-moving update (id 3: a→b, new v), insert into a NEW group,
    # and a tombstone — one merge commit
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, "b", 999, False), (100, "c", 7, False), (0, "b", 0, True)],
            "id long, g string, v long, dead boolean",
        ),
        base,
        "id",
        delete_col="dead",
        keep=10,
    )
    mart = pull(mart)

    # deletion-vector commit that empties group c → it must drop out
    delete_manifest_table(
        spark,
        spark.createDataFrame([(100,)], "id long"),
        base,
        "id",
        keep=10,
    )
    mart = pull(mart)
    assert "c" not in {r["g"] for r in mart.collect()}

    # caught-up round is the identity
    mart = pull(mart)


def test_recompute_mart_groups_minmax_tracks_full(spark, tmp_path):
    """Touched-group recompute IVM (the min/max path signed deltas can't
    serve): across bootstrap, an update that RAISES a group min, a delete
    that empties a group, and a caught-up round, the mart equals the full
    recompute — and the touched-group prune actually skips files when the
    group column is the clustering/stats column."""
    from tibame_project_spark.plans.warehouse import (
        recompute_mart_groups_from_feed,
    )
    from tibame_project_spark.sources.manifest import (
        manifest_feed_commit,
        merge_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )
    import pyspark.sql.functions as F

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    # group == clustering column (g = id div 100) so touched-group bounds
    # prune files; v carries the min/max measure
    rows = [(i, i // 100, i % 7) for i in range(400)]
    write_manifest_table(
        spark,
        spark.createDataFrame(rows, "id long, g long, v long"),
        base,
        stats_cols=["id", "g"],
        cluster_by="id",
        n_files=4,
        keep=10,
    )

    def agg(df):
        return df.groupBy("g").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )

    def full():
        return {
            tuple(r) for r in agg(read_manifest_table(spark, base)).collect()
        }

    def pull(mart):
        mart, head = recompute_mart_groups_from_feed(
            spark, base, "id",
            state_path=state, group_cols=["g"], agg=agg,
            mart=mart, prune_col="g",
        )
        mart = mart.localCheckpoint(eager=True)
        manifest_feed_commit(spark, state, head)
        assert {tuple(r) for r in mart.collect()} == full()
        return mart

    mart = pull(None)  # bootstrap = full aggregate

    # raise the minimum of group 0 (delete-and-replace every v<3 row) —
    # a min can only be maintained by recomputing the group
    batch = [(i, i // 100, 100 + i, False) for i in range(0, 100) if i % 7 < 3]
    batch += [(399, 3, 0, True)]  # and tombstone one row of group 3
    merge_manifest_table(
        spark,
        spark.createDataFrame(batch, "id long, g long, v long, dead boolean"),
        base,
        "id",
        delete_col="dead",
        keep=10,
    )
    mart = pull(mart)
    got = {r["g"]: r for r in mart.collect()}
    assert got[0]["lo"] == 3  # the old min really went away

    # empty group 3 entirely → it must drop out of the mart
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(i, i // 100, 0, True) for i in range(300, 399)],
            "id long, g long, v long, dead boolean",
        ),
        base,
        "id",
        delete_col="dead",
        keep=10,
    )
    mart = pull(mart)
    assert 3 not in {r["g"] for r in mart.collect()}

    mart = pull(mart)  # caught-up round is the identity


def test_maintain_mart_replay_with_applied_head_is_exact(spark, tmp_path):
    """The signed-delta fold is not a fixpoint, so a crash AFTER the mart
    persist but BEFORE the cursor commit must not double-count on
    restart: the head stamped with the persisted mart, passed back as
    applied_head, overrides the stale cursor (r08 advice, medium)."""
    from tibame_project_spark.plans.warehouse import maintain_mart_from_feed
    from tibame_project_spark.sources.manifest import (
        manifest_feed_commit,
        merge_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )
    import pyspark.sql.functions as F

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(i, "a" if i % 2 else "b", i * 10) for i in range(10)],
            "id long, g string, v long",
        ),
        base, stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )

    def full():
        return {
            tuple(r)
            for r in read_manifest_table(spark, base)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
            .collect()
        }

    kw = dict(state_path=state, group_cols=["g"], counts=["n"],
              sums={"total": "v"})
    mart, head = maintain_mart_from_feed(spark, base, "id", **kw)
    mart = mart.localCheckpoint(eager=True)
    stamp = head  # persisted atomically with the mart
    manifest_feed_commit(spark, state, head)

    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, "b", 999, False), (100, "c", 7, False)],
            "id long, g string, v long, dead boolean",
        ),
        base, "id", delete_col="dead", keep=10,
    )
    # apply the 0→1 interval, persist the stamped mart ... and CRASH
    # before manifest_feed_commit: cursor still says 0
    mart, head = maintain_mart_from_feed(spark, base, "id", mart=mart, **kw)
    mart = mart.localCheckpoint(eager=True)
    stamp = head
    assert {tuple(r) for r in mart.select("g", "n", "total").collect()} == full()

    # restart WITHOUT the stamp would double-count the replayed interval
    naive, _ = maintain_mart_from_feed(spark, base, "id", mart=mart, **kw)
    assert {tuple(r) for r in naive.select("g", "n", "total").collect()} != full()

    # restart WITH the stamp: the already-folded interval is skipped
    safe, head2 = maintain_mart_from_feed(
        spark, base, "id", mart=mart, applied_head=stamp, **kw
    )
    assert head2 == stamp
    assert {tuple(r) for r in safe.select("g", "n", "total").collect()} == full()
    manifest_feed_commit(spark, state, head2)


def test_recompute_mart_prune_bounds_handle_strings_and_dates(spark, tmp_path):
    """Touched-group prune bounds render as SQL literals (never Python
    repr): string groups with embedded quotes and date groups must both
    produce a valid predicate and an exact mart (r08 advice, low)."""
    import datetime

    from tibame_project_spark.plans.warehouse import (
        _sql_literal,
        recompute_mart_groups_from_feed,
    )
    from tibame_project_spark.sources.manifest import (
        manifest_feed_commit,
        merge_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )
    import pyspark.sql.functions as F

    assert _sql_literal("it's") == "'it''s'"
    assert _sql_literal(datetime.date(2024, 1, 5)) == "DATE'2024-01-05'"
    assert _sql_literal(b"raw") is None  # unsupported → caller skips prune

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    rows = [
        (i, ["a'x", "b", "c"][i % 3], datetime.date(2024, 1, 1 + i % 5), i)
        for i in range(60)
    ]
    write_manifest_table(
        spark,
        spark.createDataFrame(rows, "id long, g string, d date, v long"),
        base, stats_cols=["id", "g", "d"], cluster_by="id", n_files=2,
        keep=10,
    )

    def agg(df):
        return df.groupBy("g", "d").agg(F.min("v").alias("lo"))

    def full():
        return {
            tuple(r) for r in agg(read_manifest_table(spark, base)).collect()
        }

    # bootstrap with a STRING prune col, then a round with a DATE one
    mart, head = recompute_mart_groups_from_feed(
        spark, base, "id", state_path=state, group_cols=["g", "d"],
        agg=agg, prune_col="g",
    )
    mart = mart.localCheckpoint(eager=True)
    manifest_feed_commit(spark, state, head)
    assert {tuple(r) for r in mart.collect()} == full()

    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(9, "a'x", datetime.date(2024, 1, 2), -5, False)],
            "id long, g string, d date, v long, dead boolean",
        ),
        base, "id", delete_col="dead", keep=10,
    )
    mart, head = recompute_mart_groups_from_feed(
        spark, base, "id", state_path=state, group_cols=["g", "d"],
        agg=agg, mart=mart, prune_col="d",
    )
    manifest_feed_commit(spark, state, head)
    assert {tuple(r) for r in mart.collect()} == full()
