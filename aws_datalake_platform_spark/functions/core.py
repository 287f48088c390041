"""Column-expression library for the reference-parity derived columns.

All hot-path functions are pure Column expressions (JVM-side, inside
whole-stage codegen). The single Python UDF the reference uses — SHA-256
pseudonymization via F.udf (reference: scripts/glue_transform/
transform.py:122-130) — is replaced by the built-in ``sha2``, which
produces bit-identical lowercase hex without the JVM->Python round trip.
A pandas_udf variant is kept only to exercise the vectorized UDF surface.
"""

from __future__ import annotations

import hashlib
import logging

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

logger = logging.getLogger(__name__)

# The one size budget for every bounded driver-side path: a relation is
# collected only while it fits one broadcast-sized buffer.
DRIVER_COLLECT_BYTES = 64 << 20


def pseudonymize(col: Column | str) -> Column:
    """SHA-256 hex digest — parity with pseudonymize_column
    (transform.py:122-126) but native: F.sha2 emits the same lowercase
    hex as hashlib.sha256(...).hexdigest() and stays inside codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


@pandas_udf(T.StringType())
def pseudonymize_pandas_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized equivalent, kept to demonstrate the UDF surface
    (do not use in hot paths — pseudonymize() is strictly better)."""
    return s.map(
        lambda v: hashlib.sha256(v.encode("utf-8")).hexdigest() if v is not None else None
    )


def fahrenheit(temp_c: Column | str) -> Column:
    """P1: temperature_f = round(c * 9/5 + 32, 2) (transform.py:171-173)."""
    c = F.col(temp_c) if isinstance(temp_c, str) else temp_c
    return F.round(c * 9 / 5 + 32, 2)


def date_partition(timestamp: Column | str) -> Column:
    """P2: date = substring(timestamp, 1, 10) over ISO-8601 strings
    (transform.py:174-177,253-257). String semantics preserved on purpose
    — the reference stores timestamps as strings end-to-end."""
    c = F.col(timestamp) if isinstance(timestamp, str) else timestamp
    return F.substring(c, 1, 10)


def quality_score(
    battery: Column | str = "battery_level",
    temp: Column | str = "temperature_c",
    humidity: Column | str = "humidity_pct",
    aqi: Column | str = "aqi",
) -> Column:
    """P3: 3-way CASE quality classification (transform.py:238-251).
    PASS iff battery >= 50 and temp/humidity/aqi all non-null;
    WARN iff battery >= 20 (and not PASS); else FAIL."""
    b = F.col(battery) if isinstance(battery, str) else battery
    t = F.col(temp) if isinstance(temp, str) else temp
    h = F.col(humidity) if isinstance(humidity, str) else humidity
    a = F.col(aqi) if isinstance(aqi, str) else aqi
    return (
        F.when((b >= 50) & t.isNotNull() & h.isNotNull() & a.isNotNull(), F.lit("PASS"))
        .when(b >= 20, F.lit("WARN"))
        .otherwise(F.lit("FAIL"))
    )


def mint_sensor_id(city: Column | str, idx: Column | str) -> Column:
    """S3: deterministic sensor id =
    'sensor-' + sha256(f"{city.lower().replace(' ','_')}_{idx:03d}")[:12]
    (reference: scripts/stream_generate/lambda_function.py:33-36)."""
    c = F.col(city) if isinstance(city, str) else city
    i = F.col(idx) if isinstance(idx, str) else idx
    seed = F.concat(F.replace(F.lower(c), F.lit(" "), F.lit("_")), F.lit("_"), F.lpad(i.cast("string"), 3, "0"))
    return F.concat(F.lit("sensor-"), F.substring(F.sha2(seed, 256), 1, 12))


def encrypt_column(col: Column | str, key: str, mode: str = "GCM") -> Column:
    """AES column-level encryption for PII at rest (binary ciphertext).
    GCM (default) is authenticated but salts a random IV per value —
    ciphertexts differ between runs and CANNOT be grouped/joined on.
    Pass mode='ECB' only when deterministic ciphertext is required for
    equi-joins, accepting the equality-leak tradeoff (same plaintext ->
    same ciphertext). Keys: 16/24/32-byte AES; distribute via a secret
    manager, never inline in production jobs. JVM-native (no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aes_encrypt(c.cast("string"), F.lit(key), F.lit(mode))


def decrypt_column(col: Column | str, key: str, mode: str = "GCM") -> Column:
    """Inverse of encrypt_column; returns the plaintext string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aes_decrypt(c, F.lit(key), F.lit(mode)).cast("string")


def haversine_km(lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str) -> Column:
    """Great-circle distance in km between two (lat, lon) pairs — the
    spatial primitive the reference's weather domain implies (city
    coordinates ride every record, batch_ingest/lambda_function.py:66;
    nearest-station joins and radius filters need exactly this). Pure
    column trigonometry: codegen'd, no UDF.
    """
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    rlat1, rlat2 = F.radians(c(lat1)), F.radians(c(lat2))
    dlat = F.radians(c(lat2) - c(lat1)) / 2
    dlon = F.radians(c(lon2) - c(lon1)) / 2
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2 * 6371.0088 * F.asin(F.sqrt(a))


def round_half_up(col: Column | str, digits: int) -> Column:
    """Engine-pinned HALF-UP rounding for NON-NEGATIVE doubles:
    floor(x * 10^d + 0.5) / 10^d.

    Spark's round() rounds the shortest decimal repr HALF_UP while
    DuckDB's rounds the binary value — they disagree on exact .xxx5
    doubles, which flips oracle hashes (q76 precedent,
    plans/profiling.py:115). Floor math on identical doubles cannot
    diverge. The SQL mirror is the same expression:
    ``floor((x) * 1eD + 0.5) / 1eD``. Negative inputs would round
    toward +inf (floor(-1.25*10+0.5) = -12, not -13); every current
    caller emits ratios/scores >= 0.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = float(10**digits)
    return F.floor(c * m + 0.5) / m


def fits_on_driver(site: str, *relations: tuple[int, int], budget: int | None = None) -> bool:
    """Whether ``site`` should collect its relations and finish on the
    driver (numpy or plain Python) instead of looping in Spark.

    Each relation is ``(rows, columns)``. Every column these sites
    collect is a long or a double, so the estimate is rows x 8 B x
    columns, summed over the relations. The budget is
    ``DRIVER_COLLECT_BYTES`` (64 MiB); a caller may pass a tighter
    ``budget``, which that constant still caps, so setting the constant
    to 0 sends every non-empty site to its distributed path. At 64 MiB
    a two-long edge list fits ~4.2M edges, and q426's three-long sim
    cells ~2.8M cells.

    Callers pass counts they already have (no extra Spark job) and keep
    their own collect and their own empty-input condition; this only
    decides, and logs the decision.
    """
    est = 8 * sum(rows * cols for rows, cols in relations)
    cap = DRIVER_COLLECT_BYTES if budget is None else min(budget, DRIVER_COLLECT_BYTES)
    fits = est <= cap
    logger.info(
        "driver-path site=%s rows=%s est_bytes=%d budget=%d path=%s",
        site,
        "+".join(str(rows) for rows, _ in relations),
        est,
        cap,
        "driver" if fits else "distributed",
    )
    return fits
