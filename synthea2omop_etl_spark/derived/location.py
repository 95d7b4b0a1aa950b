"""OMOP location dimension + the joins that attach location_id.

The reference ships the OMOP 5.4 ``location`` DDL
(sql/omop_ddl/OMOPCDM_postgresql_5.4_ddl.sql:267-276) and FK hooks from
person/care_site (constraints :5, :116) but its loader leaves
person.location_id NULL (etl_pipeline/etl_patients.py:227 selects NULL).
The Synthea typed tables DO carry the address columns
(sql/synthea_typing/synthea-typedtables-transformation.sql:591-593
CITY/STATE/ZIP), so this engine completes the mapping: distinct address
tuples from patients ∪ organizations become the location dim, and
person/care_site pick up their location_id by a broadcast join on the
address key. This is what makes the Achilles 1100-series
(persons/care-sites by state / 3-digit zip) answerable.

Scale shape: the dim is DISTINCT addresses — bounded by geography, not by
row count (millions of patients → tens of thousands of zips), so the dim
build is one shuffle over a projected slice and every attach join
broadcasts. Address columns are matched case-insensitively and absent
ones contribute NULL; a source with no address columns at all yields no
dim (partial exports stay partial, like every other optional table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.idmap import assign_dense_ids

#: OMOP column ← Synthea source column (patients and organizations share
#: the header names). address_2 has no Synthea source.
_ADDRESS_COLS = [
    ("address_1", "ADDRESS"),
    ("city", "CITY"),
    ("state", "STATE"),
    ("zip", "ZIP"),
    ("county", "COUNTY"),
]


def _address_columns(df: DataFrame | None) -> list[F.Column] | None:
    """The normalized (address_1..county) columns, in ``_ADDRESS_COLS``
    order, over a source's own case-insensitively matched column names:
    cast to string, NULL where the source lacks the column. None when the
    source carries no address column at all."""
    if df is None:
        return None
    by_upper = {c.upper(): c for c in df.columns}
    if not any(src in by_upper for _, src in _ADDRESS_COLS):
        return None
    return [
        F.col(by_upper[src]).cast("string")
        if src in by_upper
        else F.lit(None).cast("string")
        for _, src in _ADDRESS_COLS
    ]


def _address_slice(df: DataFrame | None) -> DataFrame | None:
    """Project a source to the normalized (address_1..county) slice, or
    None when the source carries no address columns at all."""
    cols = _address_columns(df)
    if cols is None:
        return None
    return df.select(*[c.alias(n) for c, (n, _) in zip(cols, _ADDRESS_COLS)])


def _address_key(cols: list[F.Column] | None = None) -> F.Column:
    """Deterministic join/sort key over the full address tuple (NULL-safe:
    coalesce to a sentinel so two half-empty addresses stay distinct).
    ``cols`` defaults to the normalized columns by name."""
    if cols is None:
        cols = [F.col(n) for n, _ in _ADDRESS_COLS]
    return F.concat_ws("\x01", *[F.coalesce(c, F.lit("\x00")) for c in cols])


def source_address_key(df: DataFrame) -> F.Column | None:
    """The same address key as :func:`_address_key`, but computed directly
    over a typed SOURCE table's own (case-insensitive) column names — no
    intermediate projection. Lets a domain transform fuse the location
    lookup into its single source scan. None when the source carries no
    address columns."""
    cols = _address_columns(df)
    return None if cols is None else _address_key(cols)


def keyed_locations(locations: DataFrame) -> DataFrame:
    """(__key, location_id) lookup slice of the dim — the broadcast side of
    every attach join. The key is re-derived from the dim's normalized
    columns, so no key column needs to persist in omop_location."""
    return locations.withColumn("__key", _address_key()).select(
        "__key", "location_id"
    )


def address_rows(
    patients_typed: DataFrame | None,
    organizations_typed: DataFrame | None = None,
) -> DataFrame | None:
    """The distinct addresses of patients ∪ organizations as
    (address_1..county, ``__key``), or None when neither source carries
    address columns."""
    slices = [
        s
        for s in (
            _address_slice(patients_typed),
            _address_slice(organizations_typed),
        )
        if s is not None
    ]
    if not slices:
        return None
    addrs = slices[0]
    for s in slices[1:]:
        addrs = addrs.unionByName(s)
    return addrs.distinct().withColumn("__key", _address_key())


def location_values() -> list[F.Column | str]:
    """omop.location's columns after location_id, over
    :func:`address_rows` output. location_source_value is the zip
    (Achilles' stratum source), falling back to city."""
    return [
        "address_1",
        F.lit(None).cast("string").alias("address_2"),
        "city",
        "state",
        "zip",
        "county",
        F.coalesce(F.col("zip"), F.col("city")).alias("location_source_value"),
    ]


def location(
    patients_typed: DataFrame | None,
    organizations_typed: DataFrame | None = None,
) -> DataFrame | None:
    """Build omop.location (DDL :267-276) from the distinct addresses of
    patients ∪ organizations, numbered in ``__key`` order. Returns None
    when neither source carries address columns."""
    addrs = address_rows(patients_typed, organizations_typed)
    if addrs is None:
        return None
    dim = assign_dense_ids(addrs, "__key", id_col="location_id")
    return dim.select(F.col("location_id").cast("long"), *location_values())


def attach_location_id(
    out_df: DataFrame,
    source_typed: DataFrame,
    locations: DataFrame,
    source_id_col: str = "Id",
    out_key_col: str = "person_source_value",
) -> DataFrame:
    """Replace/add ``location_id`` on an OMOP table by resolving its source
    row's address through the location dim. The (source id → location_id)
    map is distinct-per-source-row and joins BROADCAST (dim-sized); the
    fact side never shuffles."""
    key = source_address_key(source_typed)
    if key is None:
        if "location_id" in out_df.columns:
            return out_df
        return out_df.withColumn("location_id", F.lit(None).cast("long"))
    # map: source id → location_id (one row per source row; key re-derived
    # from the same address expression used to build the dim)
    id_map = (
        source_typed.select(
            F.col(source_id_col).alias("__src_id"), key.alias("__key")
        )
        .join(keyed_locations(locations), "__key")
        .select("__src_id", "location_id")
    )
    joined = out_df.drop("location_id").join(
        id_map,
        out_df[out_key_col] == id_map["__src_id"],
        "left",
    ).drop("__src_id")
    return joined
