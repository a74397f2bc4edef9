"""BSBM (Berlin SPARQL Benchmark) suite through the SPARQL front end.

The reference's only published performance numbers are the BSBM BI/explore
queries over its bundled relational BSBM dump (reference:
docs/test-results/bsbm.md:5-24; old_tests/test_bsbm.py). This module maps
the driver's TPC-H-ish tables onto the BSBM vocabulary with an R2RML
mapping (products/producers/vendors/offers/reviews/reviewers) and ports the
query shapes the reference PASSES (bi 1,2,3,4,5,7 and explore 1,5),
parameterized to this data domain — giving the first apples-to-apples
bench-vs-baseline table (BENCH.md).

Every query has a DuckDB oracle derived from the raw tables, so the driver
gate hash-checks the whole stack: SPARQL text -> parser -> algebra ->
mapping-compiled DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rdflib_r2r_spark.mapping import (
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
    const_iri,
)
from rdflib_r2r_spark import terms
from rdflib_r2r_spark.sparql import SparkR2RStore

BSBM = "http://www4.wiwiss.fu-berlin.de/bizer/bsbm/v01/vocabulary/"
INST = "http://www4.wiwiss.fu-berlin.de/bizer/bsbm/v01/instances/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
REV = "http://purl.org/stuff/rev#"
DC = "http://purl.org/dc/elements/1.1/"
CTRY = "http://downlode.org/rdf/iso-3166/countries#"

NS = {"bsbm": BSBM, "bsbm-inst": INST, "rdfs": RDFS, "rev": REV, "dc": DC,
      "xsd": terms.XSD}

# Portable SQL logical sources (must parse in Spark AND DuckDB — the same
# rr:sqlQuery duality the reference gets from SQLAlchemy, r2r_mapping.py:28-40)
PRODUCT_SQL = (
    "SELECT p_partkey, p_name, p_size, "
    "CAST(substring(p_brand, 7, 10) AS INT) AS brandkey, "
    "CAST(substring(p_brand, 7, 10) AS INT) + 100 AS feat2key, "
    "CAST(substring(p_brand, 7, 10) AS INT) % 5 AS ckey, "
    "CAST(p_retailprice AS INT) AS num2 "
    "FROM part"
)
PRODUCER_SQL = (
    "SELECT DISTINCT CAST(substring(p_brand, 7, 10) AS INT) AS brandkey, "
    "CAST(substring(p_brand, 7, 10) AS INT) % 5 AS ckey FROM part"
)
PTYPE_SQL = "SELECT DISTINCT p_size AS tkey FROM part"
VENDOR_SQL = (
    "SELECT s_suppkey, s_name, n_name FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey"
)
REVIEW_SQL = (
    "SELECT l_orderkey, l_linenumber, l_partkey, o_custkey, "
    "CAST(o_orderdate AS STRING) AS rdate, "
    "CAST(l_quantity AS INT) % 10 AS rating "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)
PERSON_SQL = (
    "SELECT c_custkey, c_name, n_name FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey"
)


def bsbm_tmaps() -> list[TriplesMap]:
    def pom(pred, obj):
        return PredicateObjectMap(predicates=(const_iri(pred),), objects=(obj,))

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    product = TriplesMap(
        name="product",
        source=LogicalSource(sql_query=PRODUCT_SQL),
        subject_map=SubjectMap(template=INST + "Product{p_partkey}",
                               classes=(BSBM + "Product",)),
        pomaps=(
            pom(rdf_type, TermMap(template=INST + "ProductType{p_size}", term_type="IRI")),
            pom(RDFS + "label", TermMap(column="p_name")),
            pom(BSBM + "producer", TermMap(template=INST + "Producer{brandkey}", term_type="IRI")),
            pom(BSBM + "productFeature",
                TermMap(template=INST + "ProductFeature{p_size}", term_type="IRI")),
            pom(BSBM + "productFeature",
                TermMap(template=INST + "ProductFeature{feat2key}", term_type="IRI")),
            pom(BSBM + "productPropertyNumeric1",
                TermMap(column="p_size", datatype=terms.XSD_INTEGER)),
            pom(BSBM + "productPropertyNumeric2",
                TermMap(column="num2", datatype=terms.XSD_INTEGER)),
        ),
    )
    producer = TriplesMap(
        name="producer",
        source=LogicalSource(sql_query=PRODUCER_SQL),
        subject_map=SubjectMap(template=INST + "Producer{brandkey}",
                               classes=(BSBM + "Producer",)),
        pomaps=(
            pom(BSBM + "country", TermMap(template=CTRY + "C{ckey}", term_type="IRI")),
        ),
    )
    ptype = TriplesMap(
        name="ptype",
        source=LogicalSource(sql_query=PTYPE_SQL),
        subject_map=SubjectMap(template=INST + "ProductType{tkey}",
                               classes=(BSBM + "ProductType",)),
        pomaps=(),
    )
    vendor = TriplesMap(
        name="vendor",
        source=LogicalSource(sql_query=VENDOR_SQL),
        subject_map=SubjectMap(template=INST + "Vendor{s_suppkey}",
                               classes=(BSBM + "Vendor",)),
        pomaps=(
            pom(RDFS + "label", TermMap(column="s_name")),
            pom(BSBM + "country", TermMap(template=CTRY + "{n_name}", term_type="IRI")),
        ),
    )
    offer = TriplesMap(
        name="offer",
        source=LogicalSource(table="lineitem"),
        subject_map=SubjectMap(template=INST + "Offer{l_orderkey}-{l_linenumber}",
                               classes=(BSBM + "Offer",)),
        pomaps=(
            pom(BSBM + "product", TermMap(template=INST + "Product{l_partkey}", term_type="IRI")),
            pom(BSBM + "vendor", TermMap(template=INST + "Vendor{l_suppkey}", term_type="IRI")),
            pom(BSBM + "price", TermMap(column="l_extendedprice", datatype=terms.XSD_DOUBLE)),
        ),
    )
    review = TriplesMap(
        name="review",
        source=LogicalSource(sql_query=REVIEW_SQL),
        subject_map=SubjectMap(template=INST + "Review{l_orderkey}-{l_linenumber}",
                               classes=(REV + "Review",)),
        pomaps=(
            pom(BSBM + "reviewFor", TermMap(template=INST + "Product{l_partkey}", term_type="IRI")),
            pom(REV + "reviewer", TermMap(template=INST + "Person{o_custkey}", term_type="IRI")),
            pom(DC + "date", TermMap(column="rdate")),
            pom(BSBM + "rating1", TermMap(column="rating", datatype=terms.XSD_INTEGER)),
        ),
    )
    person = TriplesMap(
        name="person",
        source=LogicalSource(sql_query=PERSON_SQL),
        subject_map=SubjectMap(template=INST + "Person{c_custkey}",
                               classes=("http://xmlns.com/foaf/0.1/Person",)),
        pomaps=(
            pom(RDFS + "label", TermMap(column="c_name")),
            pom(BSBM + "country", TermMap(template=CTRY + "{n_name}", term_type="IRI")),
        ),
    )
    return [product, producer, ptype, vendor, offer, review, person]


def bsbm_store(spark: SparkSession, tables: dict[str, DataFrame]) -> SparkR2RStore:
    return SparkR2RStore(spark, tables, bsbm_tmaps(), init_ns=NS)


# --------------------------------------------------------------------------
# the query suite — shapes from the reference's PASSING BSBM runs
# (docs/test-results/sqlite-bsbm/*.md), parameters adapted to this domain
# --------------------------------------------------------------------------

QUERIES: dict[str, str] = {}

# bi-query1: review count per product type filtered by producer + reviewer
# country (reference: sqlite-bsbm/bsbm-bi-query1.md, 6456 ms)
QUERIES["bsbm_bi1"] = f"""
Select ?productType ?reviewCount
{{
 {{ Select ?productType (count(?review) As ?reviewCount)
  {{
   ?productType a bsbm:ProductType .
   ?product a ?productType .
   ?product bsbm:producer ?producer .
   ?producer bsbm:country <{CTRY}C2> .
   ?review bsbm:reviewFor ?product .
   ?review rev:reviewer ?reviewer .
   ?reviewer bsbm:country <{CTRY}NATION_3> .
  }}
  Group By ?productType
 }}
}}
Order By desc(?reviewCount) ?productType
Limit 10
"""

# bi-query2: products sharing the most features with a given product
# (reference: sqlite-bsbm/bsbm-bi-query2.md, 8079 ms)
QUERIES["bsbm_bi2"] = f"""
SELECT ?otherProduct ?sameFeatures
{{
  ?otherProduct a bsbm:Product .
  FILTER(?otherProduct != <{INST}Product84>)
  {{
    SELECT ?otherProduct (count(?otherFeature) As ?sameFeatures)
    {{
      <{INST}Product84> bsbm:productFeature ?feature .
      ?otherProduct bsbm:productFeature ?otherFeature .
      FILTER(?feature = ?otherFeature)
    }}
    Group By ?otherProduct
  }}
}}
Order By desc(?sameFeatures) ?otherProduct
Limit 10
"""

# bi-query3: products with the strongest month-over-month review growth
# (reference: sqlite-bsbm/bsbm-bi-query3.md, 5282 ms)
QUERIES["bsbm_bi3"] = """
Select ?product (xsd:float(?monthCount)/?monthBeforeCount As ?ratio)
{
  { Select ?product (count(?review) As ?monthCount)
    {
      ?review bsbm:reviewFor ?product .
      ?review dc:date ?date .
      Filter(?date >= "1997-05-01" && ?date < "1997-06-01")
    }
    Group By ?product
  }
  { Select ?product (count(?review) As ?monthBeforeCount)
    {
      ?review bsbm:reviewFor ?product .
      ?review dc:date ?date .
      Filter(?date >= "1997-04-01" && ?date < "1997-05-01")
    }
    Group By ?product
    Having (count(?review) > 0)
  }
}
Order By desc(xsd:float(?monthCount) / ?monthBeforeCount) ?product
Limit 10
"""

# bi-query4: feature price premium inside one product type
# (reference: sqlite-bsbm/bsbm-bi-query4.md, 5190 ms)
QUERIES["bsbm_bi4"] = f"""
Select ?feature (?withFeaturePrice/?withoutFeaturePrice As ?priceRatio)
{{
  {{ Select ?feature (avg(?price) As ?withFeaturePrice)
    {{
      ?product a <{INST}ProductType11> ;
               bsbm:productFeature ?feature .
      ?offer bsbm:product ?product ;
             bsbm:price ?price .
    }}
    Group By ?feature
  }}
  {{ Select ?feature (avg(?price) As ?withoutFeaturePrice)
    {{
      {{ Select distinct ?feature {{
        ?p a <{INST}ProductType11> ;
           bsbm:productFeature ?feature .
      }} }}
      ?product a <{INST}ProductType11> .
      ?offer bsbm:product ?product ;
             bsbm:price ?price .
      FILTER NOT EXISTS {{ ?product bsbm:productFeature ?feature }}
    }}
    Group By ?feature
  }}
}}
Order By desc(?withFeaturePrice/?withoutFeaturePrice) ?feature
Limit 10
"""

# bi-query5: per-country most-reviewed product of a type + its avg price
# (reference: sqlite-bsbm/bsbm-bi-query5.md, 7410 ms)
QUERIES["bsbm_bi5"] = f"""
Select ?country ?product ?nrOfReviews ?avgPrice
{{
  {{ Select ?country (max(?nrOfReviews2) As ?maxReviews)
    {{
      {{ Select ?country ?product2 (count(?review) As ?nrOfReviews2)
        {{
          ?product2 a <{INST}ProductType21> .
          ?review bsbm:reviewFor ?product2 ;
                  rev:reviewer ?reviewer .
          ?reviewer bsbm:country ?country .
        }}
        Group By ?country ?product2
      }}
    }}
    Group By ?country
  }}
  {{ Select ?product (avg(?price) As ?avgPrice)
    {{
      ?product a <{INST}ProductType21> .
      ?offer bsbm:product ?product .
      ?offer bsbm:price ?price .
    }}
    Group By ?product
  }}
  {{ Select ?country ?product (count(?review) As ?nrOfReviews)
    {{
      ?product a <{INST}ProductType21> .
      ?review bsbm:reviewFor ?product .
      ?review rev:reviewer ?reviewer .
      ?reviewer bsbm:country ?country .
    }}
    Group By ?country ?product
  }}
  FILTER(?nrOfReviews = ?maxReviews)
}}
Order By desc(?nrOfReviews) ?country ?product
"""

# bi-query7: most-offered products of a type with no offer from vendors of
# one country (reference: sqlite-bsbm/bsbm-bi-query7.md, 4892 ms)
QUERIES["bsbm_bi7"] = f"""
Select ?product
{{
  {{ Select ?product
    {{
      {{ Select ?product (count(?offer) As ?offerCount)
        {{
          ?product a <{INST}ProductType11> .
          ?offer bsbm:product ?product .
        }}
        Group By ?product
      }}
    }}
    Order By desc(?offerCount)
    Limit 1000
  }}
  FILTER NOT EXISTS
  {{
    ?offer bsbm:product ?product .
    ?offer bsbm:vendor ?vendor .
    ?vendor bsbm:country ?country .
    FILTER(?country = <{CTRY}NATION_7>)
  }}
}}
"""

# explore-query1: products of a type with two features and a numeric filter
# (reference: sqlite-bsbm/bsbm-explore-query1.md, 7436 ms)
QUERIES["bsbm_explore1"] = f"""
SELECT DISTINCT ?product ?label
WHERE {{
    ?product rdfs:label ?label .
    ?product a <{INST}ProductType18> .
    ?product bsbm:productFeature <{INST}ProductFeature18> .
    ?product bsbm:productFeature <{INST}ProductFeature107> .
    ?product bsbm:productPropertyNumeric1 ?value1 .
    FILTER (?value1 > "10"^^<http://www.w3.org/2001/XMLSchema#integer>)
}}
ORDER BY ?label
LIMIT 10
"""

# explore-query5: products similar to a given product by shared feature and
# close numeric properties (reference: sqlite-bsbm/bsbm-explore-query5.md,
# 5154 ms)
QUERIES["bsbm_explore5"] = f"""
SELECT DISTINCT ?product ?productLabel
WHERE {{
    ?product rdfs:label ?productLabel .
    FILTER (<{INST}Product30> != ?product)
    <{INST}Product30> bsbm:productFeature ?prodFeature .
    ?product bsbm:productFeature ?prodFeature .
    <{INST}Product30> bsbm:productPropertyNumeric1 ?origProperty1 .
    ?product bsbm:productPropertyNumeric1 ?simProperty1 .
    FILTER (?simProperty1 < (?origProperty1 + 20) && ?simProperty1 > (?origProperty1 - 20))
    <{INST}Product30> bsbm:productPropertyNumeric2 ?origProperty2 .
    ?product bsbm:productPropertyNumeric2 ?simProperty2 .
    FILTER (?simProperty2 < (?origProperty2 + 170) && ?simProperty2 > (?origProperty2 - 170))
}}
ORDER BY ?productLabel ?product
LIMIT 5
"""


# --------------------------------------------------------------------------
# DuckDB oracles — the same answers derived from the raw tables
# --------------------------------------------------------------------------

_PRODUCT = f"'<{INST}Product' || CAST(p_partkey AS STRING) || '>'"
_PTYPE = f"'<{INST}ProductType' || CAST(p_size AS STRING) || '>'"
_FEATURES = (
    f"(SELECT p_partkey, 'ProductFeature' || CAST(p_size AS STRING) AS feat FROM part "
    f"UNION ALL SELECT p_partkey, 'ProductFeature' || "
    f"CAST(CAST(substring(p_brand, 7, 10) AS INT) + 100 AS STRING) FROM part)"
)

ORACLES: dict[str, str] = {}

ORACLES["bsbm_bi1"] = f"""
WITH rc AS (
  SELECT {_PTYPE} AS productType, CAST(count(*) AS BIGINT) AS reviewCount
  FROM part
  JOIN lineitem ON l_partkey = p_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  WHERE CAST(substring(p_brand, 7, 10) AS INT) % 5 = 2
    AND n_name = 'NATION_3'
  GROUP BY p_size
)
SELECT productType, reviewCount FROM rc
ORDER BY reviewCount DESC, productType LIMIT 10
"""

ORACLES["bsbm_bi2"] = f"""
WITH f AS {_FEATURES},
tgt AS (SELECT feat FROM f WHERE p_partkey = 84),
sf AS (
  SELECT f.p_partkey, CAST(count(*) AS BIGINT) AS sameFeatures
  FROM f JOIN tgt ON f.feat = tgt.feat
  WHERE f.p_partkey <> 84
  GROUP BY f.p_partkey
)
SELECT '<{INST}Product' || CAST(p_partkey AS STRING) || '>' AS otherProduct, sameFeatures
FROM sf ORDER BY sameFeatures DESC, otherProduct LIMIT 10
"""

ORACLES["bsbm_bi3"] = f"""
WITH m AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS monthCount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE CAST(o_orderdate AS STRING) >= '1997-05-01' AND CAST(o_orderdate AS STRING) < '1997-06-01'
  GROUP BY l_partkey
),
mb AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS monthBeforeCount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE CAST(o_orderdate AS STRING) >= '1997-04-01' AND CAST(o_orderdate AS STRING) < '1997-05-01'
  GROUP BY l_partkey
  HAVING count(*) > 0
)
SELECT '<{INST}Product' || CAST(m.l_partkey AS STRING) || '>' AS product,
       CAST(CAST(m.monthCount AS FLOAT) AS DOUBLE) / mb.monthBeforeCount AS ratio
FROM m JOIN mb ON m.l_partkey = mb.l_partkey
ORDER BY ratio DESC, product LIMIT 10
"""

_T11_OFFERS = """
  SELECT p.p_partkey, l.l_extendedprice AS price
  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  WHERE p.p_size = 11
"""

ORACLES["bsbm_bi4"] = f"""
WITH f AS {_FEATURES},
t11 AS (SELECT p_partkey FROM part WHERE p_size = 11),
t11f AS (SELECT DISTINCT feat FROM f JOIN t11 USING (p_partkey)),
offers AS ({_T11_OFFERS}),
wf AS (
  SELECT '<{INST}' || f.feat || '>' AS feature,
         CAST(SUM(CAST(o.price AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS withFeaturePrice
  FROM offers o JOIN f ON f.p_partkey = o.p_partkey
  WHERE f.feat IN (SELECT feat FROM t11f)
  GROUP BY f.feat
),
wof AS (
  SELECT '<{INST}' || t11f.feat || '>' AS feature,
         CAST(SUM(CAST(o.price AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS withoutFeaturePrice
  FROM t11f CROSS JOIN offers o
  WHERE NOT EXISTS (
    SELECT 1 FROM f WHERE f.p_partkey = o.p_partkey AND f.feat = t11f.feat
  )
  GROUP BY t11f.feat
)
SELECT wf.feature, CAST(wf.withFeaturePrice / wof.withoutFeaturePrice AS DOUBLE) AS priceRatio
FROM wf JOIN wof ON wf.feature = wof.feature
ORDER BY priceRatio DESC, wf.feature LIMIT 10
"""

ORACLES["bsbm_bi5"] = f"""
WITH t21 AS (SELECT p_partkey FROM part WHERE p_size = 21),
revs AS (
  SELECT '<{CTRY}' || n_name || '>' AS country,
         '<{INST}Product' || CAST(l_partkey AS STRING) || '>' AS product,
         CAST(count(*) AS BIGINT) AS nrOfReviews
  FROM lineitem JOIN t21 ON l_partkey = p_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, l_partkey
),
mx AS (SELECT country, CAST(max(nrOfReviews) AS BIGINT) AS maxReviews FROM revs GROUP BY country),
prices AS (
  SELECT '<{INST}Product' || CAST(l_partkey AS STRING) || '>' AS product,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avgPrice
  FROM lineitem JOIN t21 ON l_partkey = p_partkey
  GROUP BY l_partkey
)
SELECT revs.country, revs.product, revs.nrOfReviews, prices.avgPrice
FROM revs JOIN mx ON revs.country = mx.country AND revs.nrOfReviews = mx.maxReviews
JOIN prices ON prices.product = revs.product
ORDER BY revs.nrOfReviews DESC, revs.country, revs.product
"""

ORACLES["bsbm_bi7"] = f"""
WITH t11 AS (SELECT p_partkey FROM part WHERE p_size = 11),
oc AS (
  SELECT l_partkey, count(*) AS offerCount
  FROM lineitem JOIN t11 ON l_partkey = p_partkey
  GROUP BY l_partkey
  ORDER BY offerCount DESC LIMIT 1000
)
SELECT '<{INST}Product' || CAST(l_partkey AS STRING) || '>' AS product
FROM oc
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE l.l_partkey = oc.l_partkey AND n.n_name = 'NATION_7'
)
"""

ORACLES["bsbm_explore1"] = f"""
SELECT DISTINCT {_PRODUCT} AS product, p_name AS label
FROM part
WHERE p_size = 18
  AND p_size = 18  -- ProductFeature18 via the size arm
  AND CAST(substring(p_brand, 7, 10) AS INT) + 100 = 107
  AND p_size > 10
ORDER BY label LIMIT 10
"""

ORACLES["bsbm_explore5"] = f"""
WITH f AS {_FEATURES},
orig AS (
  SELECT p_size AS n1, CAST(p_retailprice AS INT) AS n2 FROM part WHERE p_partkey = 30
),
origf AS (SELECT feat FROM f WHERE p_partkey = 30)
SELECT DISTINCT '<{INST}Product' || CAST(part.p_partkey AS STRING) || '>' AS product,
       p_name AS productLabel
FROM part
JOIN f ON f.p_partkey = part.p_partkey
JOIN origf ON f.feat = origf.feat
CROSS JOIN orig
WHERE part.p_partkey <> 30
  AND part.p_size < orig.n1 + 20 AND part.p_size > orig.n1 - 20
  AND CAST(p_retailprice AS INT) < orig.n2 + 170
  AND CAST(p_retailprice AS INT) > orig.n2 - 170
ORDER BY productLabel, product LIMIT 5
"""

BSBM_TABLES = ("part", "supplier", "nation", "lineitem", "orders", "customer")
