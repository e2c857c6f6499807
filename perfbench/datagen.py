"""Seeded household-power CSV for the ``household_pipeline`` workload.

The file is a pure function of ``(seed, rows)``: the same seed writes a
byte-identical file. It is UCI-shaped: ``;`` separator, unpadded
``d/M/yyyy`` dates, 3-decimal readings, ~1.25% all-``?`` rows and a few
duplicated readings, with intensity ~= 4.2 x active power so the
regression stage has a learnable target.

The registry workload needs no generator: it reads the star-schema and
corpus test tables copied under ``data/``.
"""

from __future__ import annotations

import numpy as np

HOUSEHOLD_COLUMNS = [
    "Date", "Time", "Global_active_power", "Global_reactive_power", "Voltage",
    "Global_intensity", "Sub_metering_1", "Sub_metering_2", "Sub_metering_3",
]


def write_household_csv(path: str, rows: int, seed: int) -> None:
    """UCI-shaped household-power CSV of ``rows`` one-minute readings."""
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2007-01-01T00:00") + np.timedelta64(int(rng.integers(0, 365)), "D")
    minutes = start + np.arange(rows).astype("timedelta64[m]")
    hour = (minutes.astype("datetime64[h]") - minutes.astype("datetime64[D]")).astype(int)
    daily = 0.6 + 0.8 * np.sin((hour - 6) / 24 * 2 * np.pi).clip(0)
    power = np.round((daily * rng.gamma(2.0, 0.6, rows)).clip(0.076, 11.0), 3)
    reactive = np.round(rng.uniform(0.0, 0.5, rows), 3)
    voltage = np.round(rng.normal(240.8, 3.2, rows), 2)
    intensity = np.round(power * 4.2 + rng.normal(0, 0.05, rows), 1).clip(0.2)
    sub1 = rng.choice([0, 0, 0, 0, 1, 2, 38], rows)
    sub2 = rng.choice([0, 0, 0, 1, 1, 2, 29], rows)
    sub3 = rng.integers(0, 20, rows)

    days = minutes.astype("datetime64[D]")
    ymd = days.astype(object)
    hm = minutes.astype(object)
    missing = rng.random(rows) < 0.0125
    dup_of = set(rng.choice(rows, max(1, rows // 2000), replace=False).tolist())
    with open(path, "w") as fh:
        fh.write(";".join(HOUSEHOLD_COLUMNS) + "\n")
        for i in range(rows):
            d, t = ymd[i], hm[i]
            date = f"{d.day}/{d.month}/{d.year}"
            time_ = f"{t.hour:02d}:{t.minute:02d}:00"
            if missing[i]:
                line = f"{date};{time_};?;?;?;?;?;?;?\n"
            else:
                line = (f"{date};{time_};{power[i]:.3f};{reactive[i]:.3f};"
                        f"{voltage[i]:.3f};{intensity[i]:.3f};{sub1[i]}.000;"
                        f"{sub2[i]}.000;{sub3[i]}.000\n")
            fh.write(line)
            if i in dup_of:
                fh.write(line)
