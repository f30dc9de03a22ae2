"""Source lines the event-log fixture's call sites point into."""


class CdcEngine:
    def _stage(self, batch):
        deduped = batch.dedup()
        stats = deduped.collect()  # line 7: the staging stats job
        return deduped, stats

    def _apply_staged_once(self, deduped):
        return deduped.collect()  # line 11: conflict re-plan stats


def helper():
    return None  # line 15: not a mapped function
