"""Physical constants (parity with /root/reference/africanus/constants/consts.py)."""

import math

LIGHTSPEED = 2.99792458e8  # m/s
TWO_PI_OVER_C = 2.0 * math.pi / LIGHTSPEED
MINUS_TWO_PI_OVER_C = -TWO_PI_OVER_C
