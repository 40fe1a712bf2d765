"""Earth-scale conversions (S2Earth.cs:12-116).

Radius 6,371,010 m (S2Earth.cs:115); conversions between physical
lengths and angles/chord-angles on the unit sphere.  Pure constants —
used to pick covering levels and distance thresholds from real-world
sizes (e.g. `KMIN_WIDTH.get_level_for_min_value(meters_to_radians(d))`).
"""

from __future__ import annotations

import math

RADIUS_METERS = 6371010.0
RADIUS_KM = RADIUS_METERS / 1000.0

LOWEST_ALTITUDE_METERS = -10898.0   # Challenger Deep (S2Earth.cs:120)
HIGHEST_ALTITUDE_METERS = 8846.0    # Mount Everest (S2Earth.cs:125)


def meters_to_radians(meters: float) -> float:
    return meters / RADIUS_METERS


def radians_to_meters(radians: float) -> float:
    return radians * RADIUS_METERS


def km_to_radians(km: float) -> float:
    return km / RADIUS_KM


def radians_to_km(radians: float) -> float:
    return radians * RADIUS_KM


def meters_to_chord2(meters: float) -> float:
    """Squared chord length of a ground distance (S1ChordAngle form)."""
    s = math.sin(0.5 * min(meters_to_radians(meters), math.pi))
    return min(4.0, 4 * s * s)


def chord2_to_meters(length2: float) -> float:
    return radians_to_meters(2 * math.asin(0.5 * math.sqrt(min(length2, 4.0))))
