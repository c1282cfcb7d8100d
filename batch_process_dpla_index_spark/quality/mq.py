"""MQ reports: the 16 presence/quality flags + provider & contributor
score aggregations + single-file CSV products (MqReports.scala:22-158).

``item_data`` is the reference's one genuine SQL-string entry point
(MqReports.scala:22-88) — kept as SQL here too, run against a temp
view, so the parser→Catalyst path stays exercised. The flags read
through the *flattened* item shape (ParquetDump output), exactly as
the monthly batch sequences it (monthly_batch_emr.sh:84).

Scale: flags are a narrow projection (pushes into the parquet scan,
~20 nested leaves of a very wide schema); each score branch is one
partial+final hash aggregate over |providers| (or |dataProviders|)
tiny rows — a single shuffle at any input size. The reference
recomputes both aggregations for its manifest counts
(MqReports.scala:152-153), a known inefficiency SURVEY.md §4 flags;
here each count is an ``Observation`` (``count(1)``) on its CSV write,
so the counts cost no extra job and no persisted score frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: The 16 flag columns of the itemdata projection, in reference order.
FLAG_COLS = (
    "title", "description", "creator", "type", "language", "spatial",
    "subject", "collection", "date", "standardizedRights", "openRights",
    "preview", "iiifManifest", "mediaMaster", "mediaAccess",
)

#: Aggregated score columns, in the reference's agg order
#: (MqReports.scala:94-111) — wikimediaReady is derived pre-agg.
SCORE_COLS = (
    "title", "description", "creator", "type", "language", "spatial",
    "subject", "collection", "date", "standardizedRights", "preview",
    "iiifManifest", "mediaMaster", "mediaAccess", "openRights",
    "wikimediaReady",
)

ITEMDATA_SQL = """select id,
    provider.name as provider,
    dataProvider.name as dataProvider,
    case when size(sourceResource.title) == 0 then 0 else 1 end as title,
    case when size(sourceResource.description) == 0 then 0 else 1 end as description,
    case when size(sourceResource.creator) == 0 then 0 else 1 end as creator,
    case when size(sourceResource.type) == 0 then 0 else 1 end as type,
    case when size(sourceResource.language.providedLabel) == 0 then 0 else 1 end as language,
    case when size(sourceResource.place.name) == 0 then 0 else 1 end as spatial,
    case when size(sourceResource.subject.providedLabel) == 0 then 0 else 1 end as subject,
    case when size(sourceResource.collection.title) == 0 then 0 else 1 end as collection,
    case when size(sourceResource.date.originalSourceDate) == 0 then 0 else 1 end as date,
    case when rights is null then 0 else 1 end as standardizedRights,
    case when rights LIKE '%/NoC-US/%'
        or rights LIKE '%/publicdomain/%'
        or rights LIKE '%/by/%'
        or rights LIKE '%/by-sa/%'
        then 1 else 0 end as openRights,
    case when object is null then 0 else 1 end as preview,
    case when iiifManifest is null then 0 else 1 end as iiifManifest,
    case when size(mediaMaster) == 0 then 0 else 1 end as mediaMaster,
    case when iiifManifest is null and size(mediaMaster) == 0 then 0 else 1 end as mediaAccess
    from {view}"""


def item_data(spark: SparkSession, items: DataFrame, view: str = "items") -> DataFrame:
    """The 16-flag itemdata projection (MqReports.scala:20-88), via the
    SQL parser path on a temp view — the reference's own entry shape."""
    items.createOrReplaceTempView(view)
    return spark.sql(ITEMDATA_SQL.format(view=view))


def _scores(itemdata: DataFrame, keys: list[str]) -> DataFrame:
    aggs = [F.mean(c).alias(c) for c in SCORE_COLS] + [F.sum("count").alias("count")]
    return (
        itemdata.withColumn(
            "wikimediaReady",
            F.expr("case when mediaAccess == 1 and openRights == 1 then 1 else 0 end"),
        )
        .withColumn("count", F.lit(1))
        .groupBy(*keys)
        .agg(*aggs)
    )


def provider_scores(itemdata: DataFrame) -> DataFrame:
    """Per-provider mean of each flag + record count (MqReports.scala:90-111)."""
    return _scores(itemdata.filter("provider is not null"), ["provider"])


def contributor_scores(itemdata: DataFrame) -> DataFrame:
    """Per-(dataProvider, provider) scores (MqReports.scala:113-134)."""
    return _scores(
        itemdata.filter("provider is not null").filter("dataProvider is not null"),
        ["dataProvider", "provider"],
    )


def write_mq_reports(
    spark: SparkSession, items: DataFrame, out_dir: str
) -> dict[str, str]:
    """The full MQ product (MqReports.scala:10-158): flags → two score
    frames → coalesce(1) header CSVs + _MANIFEST. Returns manifest opts."""
    from batch_process_dpla_index_spark.io.manifest import write_manifest
    from batch_process_dpla_index_spark.io.sinks import delete_existing, write_csv_single

    delete_existing(out_dir)
    itemdata = item_data(spark, items)
    n_providers, n_contributors = Observation(), Observation()
    n = F.count(F.lit(1)).alias("n")
    write_csv_single(provider_scores(itemdata).observe(n_providers, n), f"{out_dir}/provider.csv")
    write_csv_single(
        contributor_scores(itemdata).observe(n_contributors, n), f"{out_dir}/contributor.csv"
    )
    opts = {
        "Source": "items",
        "Provider count": str(n_providers.get["n"]),
        "Contributor count": str(n_contributors.get["n"]),
    }
    write_manifest(opts, out_dir)
    return opts
