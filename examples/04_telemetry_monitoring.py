"""Example 04 — Telemetry monitoring: gaps, limits, anomalies.

The operations a ground-segment monitor runs on every pass, end to end
(no reference counterpart as a worked example — the reference models
``out_of_limit``/``alarm_level`` but ships no stage that sets them;
this engine's ``operators/limits.py`` completes that loop):

  1. Scan a raw CCSDS file with five packets missing from the middle
     (spliced out in-place, as a dropped ground-link burst would).
  2. Detect the sequence-count gap (``streaming/stateful.py`` LAG form;
     the state-store streaming twin catches gaps across micro-batches).
  3. Decommutate + calibrate the housekeeping parameters.
  4. Check engineering values against warn/critical limit bands
     (the definitions compile into expressions; zero shuffle of the
     sample stream).
  5. Report alarm counts per parameter and the worst samples.

Run from the repo root::

    python examples/04_telemetry_monitoring.py
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mission_data_pipeline_spark import get_spark
from mission_data_pipeline_spark.models.ccsds import (
    generate_housekeeping_stream,
)
from mission_data_pipeline_spark.operators import (
    Calibration,
    ParameterDefinition,
    apply_calibrations,
    decommutate,
)
from mission_data_pipeline_spark.operators.limits import (
    LimitDefinition,
    apply_limits,
)
from mission_data_pipeline_spark.sources import read_packets
from mission_data_pipeline_spark.streaming.stateful import seq_gaps_batch

PACKET_LEN = 22  # 6 primary hdr + 4 sec hdr + 12 user data


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory(prefix="mdps_monitor_") as tmpdir:
        raw = Path(tmpdir) / "pass.bin"
        stream = generate_housekeeping_stream(300)
        # Splice out packets 100-104: a 5-packet ground-link dropout.
        stream = stream[: 100 * PACKET_LEN] + stream[105 * PACKET_LEN :]
        raw.write_bytes(stream)
        print(f"[gen] 295 packets on disk (5 lost in transit)")

        packets = read_packets(spark, str(raw), sec_hdr_length=4)

        # 2. Gap detection: the monitor's first question is "did we
        # receive everything?"
        gaps = seq_gaps_batch(packets).collect()
        for g in gaps:
            print(
                f"[gap] apid=0x{g['apid']:x} seq {g['prev_seq']} -> "
                f"{g['seq_count']}: {g['missing']} packets missing"
            )
        assert len(gaps) == 1 and gaps[0]["missing"] == 5

        # 3. Decom (the numpy decode kernel in one mapInArrow) + calibrate
        # (constant-folded Catalyst expressions).
        defs = [
            ParameterDefinition("obc_temp", 0x100, 0, 16),
            ParameterDefinition("bus_voltage", 0x100, 2, 16),
        ]
        cals = [
            Calibration("obc_temp", "polynomial", (-55.0, 0.04394531), unit="degC"),
            Calibration("bus_voltage", "polynomial", (0.0, 0.008056640625), unit="V"),
        ]
        params = apply_calibrations(decommutate(packets, defs), cals)

        # 4. Limit checking: bands chosen inside the simulated orbit's
        # thermal swing so both warning and critical levels fire.
        limits = [
            LimitDefinition("obc_temp", warn_high=40.0, crit_high=43.0),
            LimitDefinition("bus_voltage", warn_low=23.9, crit_low=23.8),
        ]
        checked = apply_limits(params, limits)

        # 5. Alarm report.
        report = (
            checked.groupBy("name", "alarm_level")
            .agg(F.count("*").alias("n"))
            .orderBy("name", "alarm_level")
        )
        print("\nAlarm accounting (0 nominal, 1 warning, 3 critical):")
        report.show()
        worst = (
            checked.filter(F.col("alarm_level") == 3)
            .orderBy(F.col("eng_value").desc())
            .select("name", "seq_count", "eng_value", "unit")
        )
        print("Critical samples (worst first):")
        worst.show(5)

        by_level = {
            (r["name"], r["alarm_level"]): r["n"] for r in report.collect()
        }
        assert any(lvl == 3 for (_, lvl) in by_level), "no criticals fired"
        assert any(lvl == 1 for (_, lvl) in by_level), "no warnings fired"

    print("SUCCESS: monitoring pass complete "
          f"({len(gaps)} gap, {sum(n for (_, l), n in by_level.items() if l > 0)}"
          " out-of-limit samples)")


if __name__ == "__main__":
    main()
