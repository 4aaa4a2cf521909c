"""Adaptive per-epoch rate controller (SURVEY §2.5 G4).

Reference analog: ``adjustBatchSizes`` with the
``ADAPTIVE_MINIMIZE_IDLE_TIME`` load-hint policy — a feedback controller
that re-tunes each backend's share from the previous iteration's timings in
decaying increments (/root/reference/src/image_generic_codec.h:1064-1123;
policy enum /root/reference/include/nvimgcodec.h:688-694).

Here the controlled variable is the events-per-epoch cap (the
``maxOffsetsPerTrigger`` analog for our LSN-sliced micro-batches): epochs
that finish under the target grow the cap, slow epochs shrink it, with a
decaying step so the cap converges instead of oscillating.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class AdaptiveRateController:
    target_epoch_seconds: float = 30.0
    cap: int = 1_000_000
    min_cap: int = 10_000
    max_cap: int = 50_000_000
    alpha: float = 0.8  # gain in log space; decays toward alpha_floor
    alpha_floor: float = 0.2
    decay: float = 0.9
    history: list = field(default_factory=list)

    def observe(self, epoch_events: int, epoch_seconds: float) -> int:
        """Record an epoch; return the cap for the next epoch.

        Multiplicative (log-space) control: ``cap *= ratio^alpha`` where
        ``ratio = target / measured``. Converges geometrically after a
        regime change yet is a fixed point at the setpoint; the decaying
        gain damps early oscillation, mirroring the reference's decaying
        delta (/root/reference/src/image_generic_codec.h:1082-1101).
        """
        self.history.append((epoch_events, epoch_seconds))
        if epoch_events <= 0 or epoch_seconds <= 0:
            return self.cap
        # estimate duration at the *cap* (epoch may have been smaller)
        per_event = epoch_seconds / epoch_events
        cap_seconds = per_event * self.cap
        ratio = self.target_epoch_seconds / cap_seconds
        self.cap = int(min(self.max_cap, max(self.min_cap, self.cap * ratio**self.alpha)))
        self.alpha = max(self.alpha * self.decay, self.alpha_floor)
        return self.cap

