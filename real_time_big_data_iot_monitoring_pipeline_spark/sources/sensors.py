"""Deterministic sensor-reading generator — the engine-native fixture for
the reference's own data model (semantics modeled on the demo generator,
reference ``app.py:68-118``, and the live producer ``mqtt_producer.py:31-51``:
10 sensors x fixed locations, 2-minute cadence, diurnal sine + noise,
bounded humidity, ~5% injected anomalies so alert/IQR/ML operators fire).

Spark-first implementation detail that matters at scale: randomness is NOT
`rand(seed)` (whose draw depends on row-to-partition assignment) but a
hash-derived uniform `xxhash64(row_id, salt) -> [0,1)`.  That makes every
reading a pure function of its row id — the dataset is bit-identical on 1
executor or 1000, which is what lets streaming replays, retries, and
batch/stream equivalence tests assert exact equality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: location -> (base temperature, lat, lon); zone names mirror the
#: reference's city zones (``mqtt_producer.py:18-29``), base-temp offsets
#: mirror its Industrial_Zone/City_Park specialization (``mqtt_producer.py:37-41``).
LOCATIONS = [
    ("Downtown", 22.0, 52.520, 13.405),
    ("Industrial_Zone", 28.0, 52.550, 13.450),
    ("Residential_Area", 22.0, 52.480, 13.350),
    ("City_Park", 20.0, 52.510, 13.380),
    ("Highway_A1", 23.0, 52.600, 13.500),
    ("Shopping_Mall", 24.0, 52.500, 13.420),
    ("University_Campus", 21.0, 52.455, 13.300),
    ("Airport", 22.5, 52.560, 13.290),
    ("Harbor", 21.5, 52.530, 13.600),
    ("Suburb_North", 21.0, 52.650, 13.400),
]

N_SENSORS = len(LOCATIONS)
EPOCH_START = 1704067200  # 2024-01-01 00:00:00 UTC
CADENCE_S = 120  # one reading per sensor every 2 minutes (app.py:79)


def _u(row: Column, salt: int) -> Column:
    """Deterministic uniform [0,1) from a row id — partition-independent."""
    h = F.xxhash64(row, F.lit(salt))
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def readings(spark: SparkSession, hours: int = 24, start_epoch: int = EPOCH_START) -> DataFrame:
    """Generate `hours` of readings for all sensors, in the canonical
    SENSOR_READING_SCHEMA shape.  Pure `spark.range` + column expressions:
    generation itself distributes (no driver-side data)."""
    per_sensor = hours * 3600 // CADENCE_S
    n = per_sensor * N_SENSORS
    base = spark.range(n)  # id = reading index
    sensor_idx = (F.col("id") % N_SENSORS).cast("int")
    tick = F.floor(F.col("id") / N_SENSORS)

    loc = F.element_at(F.array(*[F.lit(x[0]) for x in LOCATIONS]), sensor_idx + 1)
    base_temp = F.element_at(F.array(*[F.lit(x[1]) for x in LOCATIONS]), sensor_idx + 1)

    ts_s = F.lit(start_epoch) + tick * CADENCE_S
    hour_of_day = F.floor(ts_s % 86400 / 3600).cast("double")
    # diurnal swing, flattened at night (reference app.py:84-89)
    diurnal = F.when(
        (hour_of_day >= 6) & (hour_of_day <= 18),
        8.0 * F.sin((hour_of_day - 6.0) * 3.141592653589793 / 12.0),
    ).otherwise(-2.0)
    noise = (_u(F.col("id"), 1) - 0.5) * 3.0  # +-1.5 degC
    is_anomaly = _u(F.col("id"), 2) < 0.05  # 5% anomalies (app.py:96-100)
    anomaly_bump = F.when(_u(F.col("id"), 3) < 0.5, 15.0).otherwise(-15.0)

    temperature = base_temp + diurnal + noise + F.when(is_anomaly, anomaly_bump).otherwise(0.0)
    humidity_raw = 55.0 + (_u(F.col("id"), 4) - 0.5) * 50.0 + F.when(is_anomaly, 25.0).otherwise(0.0)
    humidity = F.least(F.greatest(humidity_raw, F.lit(10.0)), F.lit(98.0))  # clip (app.py:94,100)
    pressure = 980.0 + _u(F.col("id"), 5) * 40.0  # uniform(980, 1020) (mqtt_producer.py:49)

    return base.select(
        F.format_string("SENSOR_%03d", sensor_idx + 1).alias("sensor_id"),
        loc.alias("location"),
        F.timestamp_seconds(ts_s).alias("timestamp"),
        F.round(temperature, 2).alias("temperature"),
        F.round(humidity, 2).alias("humidity"),
        F.round(pressure, 2).alias("pressure"),
    )


def location_dim(spark: SparkSession) -> DataFrame:
    """The location -> coordinates dimension table (reference
    ``streamlit_dashboard.py:746-757``), for broadcast joins.

    A ``VALUES`` list, so the plan is a JVM-local relation: joining it
    starts no Python worker (``createDataFrame`` of a Python list would
    plan a Python RDD)."""
    rows = ", ".join(f"('{name}', {lat!r}D, {lon!r}D)" for name, _, lat, lon in LOCATIONS)
    return spark.sql(f"VALUES {rows} AS t(location, lat, lon)")
